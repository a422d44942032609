package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextStats, UrlCanon}
import graft.operators.{Blocklist, Corpus, Dedup, Events, LinkGraph, Multimodal, Politeness, Robots, Search, Sessions, Similarity, TextDedup}
import graft.plans.{CrawlJob, CrawlSettings}
import graft.sources.{Fixtures, Warc}

/** Driver contract — see /root/repo/SURVEY.md §7 + FIXTURES.md §B.
  *
  * Each SQL-expressible operator gets a (Spark query, DuckDB oracle) pair
  * over a synthetic URL frontier derived inline from the sfDir `orders`
  * parquet with engine-portable SQL (identical expressions both sides, no
  * intermediate files). Engine-only operators (extraction, the crawl wave
  * loop) are exposed as rows-only queries and pinned by golden/simulator
  * specs instead. */
object SparkEntry {

  /** Shared frontier derivation (FIXTURES.md §B): urls with deterministic
    * duplicates (orderkey % 5000), mixed-case hosts, fragments. */
  private def urlsCte(from: String): String = s"""
    SELECT concat('http://',
                  CASE WHEN (o_orderkey % 5000) % 5 = 0 THEN 'HOST' ELSE 'host' END,
                  CAST((o_orderkey % 5000) % 50 AS STRING), '.example.com/o/',
                  CAST(o_orderkey % 5000 AS STRING),
                  CASE WHEN (o_orderkey % 5000) % 7 = 0 THEN '#frag' ELSE '' END) AS url,
           CAST(o_orderkey % 3 AS INT) AS priority,
           o_orderkey AS seq
    FROM $from"""

  private def urlsDF(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(urlsCte(s"parquet.`$sfDir/orders.parquet`"))

  /** PSL-exercising host mix (engine-portable like [[urlsCte]]): plain
    * com, multi-label co.uk/ac.jp/com.br, the *.ck wildcard (with and
    * without a registrable label) and the !www.ck exception. */
  private def pslHostsCte(from: String): String = s"""
    SELECT CASE CAST(o_orderkey % 7 AS INT)
             WHEN 0 THEN concat('www.site', CAST(o_orderkey % 50 AS STRING), '.co.uk')
             WHEN 1 THEN concat('site', CAST(o_orderkey % 50 AS STRING), '.com')
             WHEN 2 THEN concat('a.b.site', CAST(o_orderkey % 50 AS STRING), '.ac.jp')
             WHEN 3 THEN concat('x', CAST(o_orderkey % 10 AS STRING), '.ck')
             WHEN 4 THEN concat('deep.x', CAST(o_orderkey % 10 AS STRING), '.ck')
             WHEN 5 THEN 'www.ck'
             ELSE concat('sub.host', CAST(o_orderkey % 20 AS STRING), '.com.br')
           END AS host,
           o_orderkey AS seq
    FROM $from"""

  /** The PSL seed rules as a SQL VALUES list, generated from the SAME
    * compiled maps the operator evaluates — oracle and engine cannot
    * drift. kind: e = exact, w = wildcard (base), x = exception. */
  private def pslRulesValues: String = {
    val (e, w, x) = graft.operators.PublicSuffix.compile(
      graft.operators.PublicSuffix.SeedRules)
    (e.toSeq.sorted.map { case (s, p) => s"('$s', $p, 'e')" } ++
      w.toSeq.sorted.map { case (s, p) => s"('$s', $p, 'w')" } ++
      x.toSeq.sorted.map { case (s, p) => s"('$s', $p, 'x')" }).mkString(", ")
  }

  /** Trap-shaped frontier (engine-portable like [[urlsCte]]): two distinct
    * base segments, a repeated-segment tail of 0–5 copies (repetition AND
    * depth vary together but trip at different bounds), and a query string
    * of 1+(k%10) params on every 4th URL. */
  private def trapUrlsCte(from: String): String = s"""
    SELECT concat('http://trap', CAST(o_orderkey % 40 AS STRING), '.example.com',
                  '/a', CAST(o_orderkey % 7 AS STRING),
                  '/b', CAST(o_orderkey % 3 AS STRING),
                  repeat(concat('/loop', CAST(o_orderkey % 4 AS STRING)),
                         CAST(o_orderkey % 6 AS INT)),
                  CASE WHEN o_orderkey % 4 = 0
                       THEN concat('?q=1', repeat('&p=2', CAST(o_orderkey % 10 AS INT)))
                       ELSE '' END) AS url,
           o_orderkey AS seq
    FROM $from"""

  private def trapUrlsDF(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(trapUrlsCte(s"parquet.`$sfDir/orders.parquet`"))

  private def oracle(body: String): String =
    s"WITH urls AS (${urlsCte("orders")}) $body"

  // engine UDFs (the operators under test)
  private val stripFragUdf = udf((u: String) => UrlCanon.stripFragment(u))
  private val hostUdf = udf((u: String) => UrlCanon.host(u))

  /** url_canon/host enrichment restricted to the SQL-expressible core
    * (P5/P7/P8) so DuckDB can reproduce it. */
  private def enriched(spark: SparkSession, sfDir: String): DataFrame =
    urlsDF(spark, sfDir)
      .withColumn("url_canon", lower(stripFragUdf(col("url"))))
      .withColumn("host", hostUdf(lower(col("url"))))

  /** [[enriched]] with the scan spread to the session's shuffle width
    * FIRST (r6): the source parquet is one row group, so every per-row
    * stage downstream — the enrich UDFs, XML synthesis, entry splits —
    * otherwise runs on a single core until the first exchange. Only the
    * queries whose per-row work dominates use this (the exchange moves
    * slim pre-enrich rows once); count()-pruned projection queries stay
    * on the plain form, where an exchange would be pure overhead. */
  private def enrichedSpread(spark: SparkSession, sfDir: String): DataFrame =
    urlsDF(spark, sfDir)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .withColumn("url_canon", lower(stripFragUdf(col("url"))))
      .withColumn("host", hostUdf(lower(col("url"))))

  private val enrichedOracle =
    """SELECT url, priority, seq,
              lower(regexp_replace(url, '#.*$', '')) AS url_canon,
              lower(regexp_extract(url, '^http://([^/#]+)', 1)) AS host
       FROM urls"""

  /** Flagship: the §7.2 end-to-end slice — a real crawl over the
    * deterministic synthetic corpus (seeds → dedup → politeness →
    * fetch-join → extract → outlinks → waves), returning the schedule. */
  def entry(spark: SparkSession): DataFrame = {
    val v = 200L
    val pages = Fixtures.pagesDF(spark, v)
    val dir = java.nio.file.Files.createTempDirectory("graft-entry").toString
    val settings = CrawlSettings(size = 60, nPriorities = 1, hostBudget = 4,
      waveCap = 60, retries = 1, maxWaves = 20, urlPattern = Fixtures.UrlPattern,
      extract = true, bloomCapacity = 4096, numBuckets = 8)
    val job = new CrawlJob(spark, pages, settings, dir)
    job.run(Fixtures.seeds(v))
    job.scheduleTable
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P7/P8 core: fragment strip + lowercase
    "canon_strip_fragment" -> ((s, d) =>
      urlsDF(s, d).select(lower(stripFragUdf(col("url"))).as("url_nofrag"), col("seq"))),

    // P5: host extraction
    "host_extract" -> ((s, d) =>
      urlsDF(s, d).select(hostUdf(lower(col("url"))).as("host"), col("seq"))),

    // PSL registrable-domain extraction (politeness/blocklists group by
    // the registrable domain, not the raw host): per-row HOF chain over
    // the host's dot-suffixes with the rules as literal maps — no join
    "registered_domain" -> ((s, d) => {
      val hosts = s.sql(pslHostsCte(s"parquet.`$d/orders.parquet`"))
      hosts.select(col("host"), col("seq"),
        graft.operators.PublicSuffix.registeredDomain(col("host"))
          .as("registered_domain"),
        graft.operators.PublicSuffix.publicSuffix(col("host"))
          .as("public_suffix"))
    }),

    // D1: first-seen dedup
    // the string url column is dropped BEFORE the dedup: with only
    // fixed-width value columns the first-seen aggregate runs on its
    // primitive min_by fast path (whole-stage HashAggregate — a string
    // value column would demote it to the struct-min SortAggregate
    // fallback, two full sorts; see PlanAudit)
    "dedup_anti" -> ((s, d) =>
      Dedup.firstSeenInBatch(enriched(s, d).drop("url"), Seq(col("seq")))
        .select(col("url_canon"), col("seq"))),

    // D2 via the cuckoo seen-filter (north rule "bloom/cuckoo"): the
    // store-filtered anti-join with kind=cuckoo must be output-identical
    // to the exact NOT IN — the filter only routes rows, never decides
    // membership (superset rule; CuckooSpec pins the store mechanics,
    // this oracle pins end-to-end row equality against DuckDB)
    "dedup_anti_cuckoo" -> ((s, d) => {
      val e = enriched(s, d)
        .withColumn("url_hash", xxhash64(col("url_canon")))
      // seen keyed on the CANON id (seq % 5000 is the url identity in the
      // fixture derivation) — a seq-keyed split would cover every distinct
      // canon and leave a vacuous 0-row result
      val seen = e.filter(col("seq") % 5000 % 3 === 0)
        .select("url_hash", "url_canon").distinct()
      val cands = e.filter(col("seq") % 2 === 0)
        .select("url_hash", "url_canon", "seq")
      // tmpfs scratch (see crawl_schedule): throwaway filter-bucket state
      val dir = FrontierBench.scratchDir("graft-cuckoo-q").toString
      val store = new graft.operators.BloomStore(s, dir, numBuckets = 8,
        bucketCapacity = 8192, kind = "cuckoo")
      store.rebuild(seen, 0)
      Dedup.antiJoinSeenWithBloomStore(cands, seen, store)
        .select(col("url_canon"), col("seq"))
    }),

    // O6: per-host top-k politeness quota
    "politeness_topk" -> ((s, d) =>
      Politeness.hostEligible(enriched(s, d), 3)
        .select(col("host"), col("priority"), col("seq"), col("url_canon"))),

    // O6 at scale: salted two-phase top-k over every host (maxHotHosts = 0
    // trips the skew guard) — same result, its own oracle
    "politeness_topk_salted" -> ((s, d) =>
      Politeness.hostEligible(enriched(s, d), 3, salts = 4, maxHotHosts = 0)
        .select(col("host"), col("priority"), col("seq"), col("url_canon"))),

    // O6/J5 frontier-scale path: adaptive skew split (cold hosts pass
    // narrow, only hot hosts ranked) — must equal the plain window
    "politeness_topk_adaptive" -> ((s, d) =>
      Politeness.hostEligible(enriched(s, d), 3, salts = 4)
        .select(col("host"), col("priority"), col("seq"), col("url_canon"))),

    // O7 adaptive throttling: per-host budget decay from banned windows
    "throttle_decay" -> ((s, d) => {
      val m = enriched(s, d).groupBy((col("seq") % 5).cast("int").as("wave"), col("host"))
        .agg(count(lit(1)).as("fetched"),
          sum(when(col("seq") % 11 === 0, 1L).otherwise(0L)).as("errors"))
      Politeness.adaptiveHostBudgets(m, defaultBudget = 100)
    }),

    // O4: globally ordered budget grant
    "budget_limit" -> ((s, d) =>
      urlsDF(s, d).orderBy(col("priority").asc, col("seq").asc).limit(100)
        .select(col("url"), col("priority"), col("seq"))),

    // P2: ordered-rule parser dispatch, first match wins, case-insensitive
    // (cola/core/urls.py:62-73); rules overlap so order is load-bearing
    "parser_dispatch" -> ((s, d) => {
      import graft.operators.{ParserDispatch, ParserRule}
      val rules = Seq(
        ParserRule("/o/[0-9]*[02468]$", "extract"),
        ParserRule("^http://host1", "links"),
        ParserRule("host", "leaf"))
      urlsDF(s, d).select(col("url"), col("seq"),
        ParserDispatch.parserId(col("url"), rules).as("parser_id"))
    }),

    // P3: priority clamp
    "priority_clamp" -> ((s, d) =>
      urlsDF(s, d).select(col("seq"),
        Politeness.clampPriority(col("priority") * 7 - 3, 3).as("pclamp"))),

    // MQ put path: union two waves + first-seen dedup
    "frontier_union_dedup" -> ((s, d) => {
      val e = enriched(s, d).drop("url") // fixed-width values → hash-agg fast path
      val w1 = e.filter(col("seq") % 2 === 0)
      val w2 = e.filter(col("seq") % 3 === 0)
      Dedup.firstSeenInBatch(w1.unionByName(w2), Seq(col("seq")))
        .select(col("url_canon"), col("seq"))
    }),

    // A1-A7: per-group counters (partial→final aggregation)
    "wave_counts" -> ((s, d) =>
      enriched(s, d).groupBy(col("host")).agg(
        count(lit(1)).as("n"),
        min(col("seq")).as("min_seq"),
        max(col("seq")).as("max_seq"),
        sum(col("priority")).as("sum_priority"))),

    // J5: salted partition assignment is total and countable
    "skew_salt" -> ((s, d) =>
      enriched(s, d)
        .withColumn("salt", (col("seq") % 8).cast("int"))
        .groupBy(col("host"), col("salt")).agg(count(lit(1)).as("n"))),

    // X1/X2: extraction over the synthetic corpus (engine-only → rows-only)
    "extract_text" -> ((s, _) => {
      val pages = Fixtures.pagesDF(s, 60L)
      val ex = udf((html: Array[Byte], u: String) =>
        graft.functions.Extract.extractText(html, u))
      pages.select(col("url"), length(ex(col("html"), col("url"))).as("n_chars"))
    }),

    // WARC ingestion (S-side source for Common-Crawl-style dumps): the
    // REAL streaming parser over the deterministic fixture file (one
    // gzip member per record — CC layout — with warcinfo/request records
    // interleaved and angle-bracketed URIs); DuckDB regenerates every
    // expected response row from range() alone, so the oracle pins the
    // whole parse end to end (framing, gzip members, HTTP split, md5 of
    // the extracted body bytes)
    "warc_parse" -> ((s, _) => {
      import s.implicits._
      val bin = Seq(("mem://fixture.warc.gz", Fixtures.warcFile(200))).toDF("path", "content")
      Warc.recordsFromBinary(bin)
        .filter(col("warc_type") === "response")
        .select(col("url"),
          col("warc_date"),
          col("http_status").cast("long").as("http_status"),
          col("http_content_type").as("mime"),
          length(col("body")).cast("long").as("n_bytes"),
          md5(col("body")).as("body_md5"))
    }),

    // robots.txt gate (Robots.filterAllowed, the one RFC 9309 gate; the
    // three robots_filter* queries differ only in their fixtures):
    // Disallow-only prefixes
    "robots_filter" -> ((s, d) => {
      val rules = Robots.rulesFromTxt(s, Seq(
        "host0.example.com" -> "User-agent: *\nDisallow: /o/1",
        "host3.example.com" -> "User-agent: *\nDisallow: /o/"))
      Robots.filterAllowed(enriched(s, d), rules)
        .select(col("url_canon"), col("host"), col("seq"))
    }),

    // longest match with Allow lines: host0 = Allow carves the /o/1
    // subtree out of a Disallow /o/; host3 = exact Allow/Disallow tie
    // (Allow wins) over a Disallow-everything floor; host7 = allow floor
    // with one disallowed subtree; other hosts rule-free
    "robots_filter_rfc" -> ((s, d) => {
      val rules = Robots.rulesFromTxt(s, Seq(
        "host0.example.com" -> "User-agent: *\nDisallow: /o/\nAllow: /o/1",
        "host3.example.com" -> "User-agent: *\nDisallow: /o/3\nAllow: /o/3\nDisallow: /",
        "host7.example.com" -> "User-agent: *\nAllow: /\nDisallow: /o/7"))
      Robots.filterAllowed(enriched(s, d), rules)
        .select(col("url_canon"), col("host"), col("seq"))
    }),

    // wildcard rules (* any-sequence, $ end anchor): host2
    // blocks paths ending in 7, host5 is Disallow-/o/ with an
    // ends-in-5 wildcard carve-out (longest pattern wins), host9
    // blocks any path containing '1' — all verdicts on the PATH, so
    // the '9' in the hostname never triggers host9's rule
    "robots_filter_wildcard" -> ((s, d) => {
      val rules = Robots.rulesFromTxt(s, Seq(
        "host2.example.com" -> "User-agent: *\nDisallow: /o/*7$",
        "host5.example.com" -> "User-agent: *\nDisallow: /o/\nAllow: /o/*5$",
        "host9.example.com" -> "User-agent: *\nDisallow: /*1*"))
      Robots.filterAllowed(enriched(s, d), rules)
        .select(col("url_canon"), col("host"), col("seq"))
    }),

    // sitemap INDEX ingestion (the nesting level above sitemap_parse):
    // two <sitemap> entries — one with lastmod, one whitespace-padded
    // loc-only — plus a loc-less entry that must drop
    "sitemap_index_parse" -> ((s, d) => {
      val sm = enrichedSpread(s, d).select(col("host"), col("seq"),
        concat(
          lit("<sitemapindex><sitemap><loc>"), col("url_canon"),
          lit("/s1.xml</loc><lastmod>2023-0"), expr("cast(1 + seq % 9 as string)"),
          lit("-01</lastmod></sitemap><sitemap>\n <loc> "), col("url_canon"),
          lit("/s2.xml </loc>\n</sitemap><sitemap><lastmod>2020-01-01</lastmod></sitemap></sitemapindex>"))
          .as("body"))
      Robots.parseSitemapIndexXml(sm, "body")
        .select(col("host"), col("seq"), col("loc"), col("lastmod"))
    }),

    // robots.txt crawl-delay → per-host politeness caps (O6 variable
    // form): a 60s wave window grants floor(60/delay) fetches clamped to
    // [1, 8]; hosts without a *-group delay get the default quota of 3.
    // host1: 30s → 2; host2: 10s → 6; host5: 0.5s → 120 → clamped 8;
    // host4 names only googlebot → default; host6's 90s exceeds the
    // window → floor 0 → clamped 1.
    "robots_crawl_delay" -> ((s, d) => {
      val delays = Robots.delaysFromTxt(s, Seq(
        "host1.example.com" -> "User-agent: *\nCrawl-delay: 30\nDisallow:",
        "host2.example.com" -> "User-agent: *\nCrawl-delay: 10",
        "host4.example.com" -> "User-agent: googlebot\nCrawl-delay: 1",
        "host5.example.com" -> "User-agent: *\nCrawl-delay: 0.5",
        "host6.example.com" -> "User-agent: *\nCrawl-delay: 90"))
      Politeness.hostEligible(enriched(s, d), 3,
          Some(Robots.capsFromDelays(delays, windowSecs = 60.0, maxK = 8)))
        .select(col("host"), col("priority"), col("seq"), col("url_canon"))
    }),

    // sitemap XML ingestion: deterministic per-row sitemap bodies (two
    // <url> entries — one fully attributed, one whitespace-padded
    // loc-only — plus a loc-less entry that must drop) parsed by the
    // codegen regexp pipeline into (loc, lastmod, sm_priority) rows
    "sitemap_parse" -> ((s, d) => {
      val sm = enrichedSpread(s, d).select(col("host"), col("seq"),
        concat(
          lit("<urlset><url><loc>"), col("url_canon"),
          lit("</loc><lastmod>202"), expr("cast(seq % 5 as string)"),
          lit("-0"), expr("cast(1 + seq % 9 as string)"),
          lit("-15</lastmod><priority>0."), expr("cast(seq % 10 as string)"),
          lit("</priority></url><url>\n  <loc>"), col("url_canon"),
          lit("/alt</loc>\n</url><url><lastmod>2020-01-01</lastmod></url></urlset>"))
          .as("body"))
      Robots.parseSitemapXml(sm, "body")
        .select(col("host"), col("seq"), col("loc"), col("lastmod"), col("sm_priority"))
    }),

    // sitemap-driven recrawl: declared lastmod vs the capture record —
    // never-captured URLs come back 'new', strictly-newer lastmod
    // 'stale'; no-lastmod entries defer to the change-rate estimator
    "sitemap_recrawl" -> ((s, d) => {
      val base = enriched(s, d).groupBy(col("url_canon"))
        .agg(min(col("seq")).as("seq"))
      val entries = base.select(col("url_canon").as("loc_in"),
        concat(lit("202"), expr("cast(seq % 5 as string)"), lit("-0"),
          expr("cast(1 + seq % 9 as string)"), lit("-15")).as("lastmod"))
      val captures = base.filter(col("seq") % 2 === 0)
        .select(col("url_canon").as("url"),
          (lit(1640995200000000L) + col("seq") * 1000000L).as("fetched_us"))
      Robots.sitemapRecrawl(entries, "loc_in", "lastmod",
        captures, "url", "fetched_us")
    }),

    // A3-A5 counter aggregators: Uniq (sorted set) + Overwrite (last-write)
    "counters_uniq_overwrite" -> ((s, d) =>
      enriched(s, d).groupBy(col("host")).agg(
        concat_ws(",", sort_array(collect_set(col("priority")))).as("uniq_priorities"),
        max_by(col("priority"), col("seq")).as("last_priority"))),

    // X4 title/date scalar parses (wiki parser semantics,
    // app/wiki/__init__.py:93-120: title before " - Wikipedia", en
    // edit-timestamp regex + month-name lookup -> timestamp; re-formatted
    // so the oracle compares stable strings)
    "title_date_parse" -> ((s, d) => {
      val base = urlsDF(s, d).selectExpr("seq",
        "concat('Page ', cast(seq as string), ' - Wikipedia') as title",
        """concat(lpad(cast(seq % 24 as string), 2, '0'), ':',
                  lpad(cast(seq % 60 as string), 2, '0'), ', ',
                  lpad(cast(1 + seq % 28 as string), 2, '0'), ' March ',
                  cast(2020 + seq % 5 as string)) as edited""")
      // month-name -> number lookup mirrors the reference's
      // calendar.month_name scan; Spark 4's parser rejects MMMM for
      // parsing, so extract the parts via regex like the reference does
      base.selectExpr("seq",
        "regexp_extract(title, '^(.*) - Wikipedia$', 1) as page_title",
        """date_format(make_timestamp(
             cast(regexp_extract(edited, '(\\d{4})$', 1) as int),
             element_at(map('January',1,'February',2,'March',3,'April',4,
                            'May',5,'June',6,'July',7,'August',8,'September',9,
                            'October',10,'November',11,'December',12),
               regexp_extract(edited, ', \\d{2} (\\w+) ', 1)),
             cast(regexp_extract(edited, ', (\\d{2}) ', 1) as int),
             cast(regexp_extract(edited, '^(\\d{2}):', 1) as int),
             cast(regexp_extract(edited, ':(\\d{2}),', 1) as int), 0),
           'yyyy-MM-dd HH:mm') as edit_ts""")
    }),

    // X4 zh branch (the wiki parser's Chinese edit-timestamp regex,
    // app/wiki/__init__.py:80,111-113): `\d{4}年\d{1,2}月\d{1,2}日
    // \(.+\) \d{1,2}:\d{1,2}` searched inside the footer, the
    // parenthesized weekday stripped, 年/月 → '-' and 日 dropped before
    // parsing. Month/day/hour are NON-padded (unlike the en branch), so
    // the parse extracts 1-2 digit groups like the reference's dateutil
    "title_date_parse_zh" -> ((s, d) => {
      val base = urlsDF(s, d).selectExpr("seq",
        """concat('本页面最后修订于',
             cast(2020 + seq % 5 as string), '年',
             cast(1 + seq % 12 as string), '月',
             cast(1 + seq % 28 as string), '日 (星期',
             element_at(array('日','一','二','三','四','五','六'),
               cast(1 + seq % 7 as int)),
             ') ', cast(seq % 24 as string), ':',
             lpad(cast(seq % 60 as string), 2, '0'), '。') as footer""")
      base.selectExpr("seq",
          """regexp_extract(footer,
               '\\d{4}年\\d{1,2}月\\d{1,2}日 \\(.+\\) \\d{1,2}:\\d{1,2}',
               0) as zh_edited""")
        .selectExpr("seq",
          """date_format(make_timestamp(
               cast(regexp_extract(zh_edited, '^(\\d{4})年', 1) as int),
               cast(regexp_extract(zh_edited, '年(\\d{1,2})月', 1) as int),
               cast(regexp_extract(zh_edited, '月(\\d{1,2})日', 1) as int),
               cast(regexp_extract(zh_edited, ' (\\d{1,2}):', 1) as int),
               cast(regexp_extract(zh_edited, ':(\\d{1,2})$', 1) as int), 0),
             'yyyy-MM-dd HH:mm') as edit_ts_zh""")
    }),

    // ---- training-data pipeline operators (documents/embeddings) ----

    // token counting: whitespace + BPE-ish regex classes
    "text_token_counts" -> ((s, d) =>
      s.read.parquet(s"$d/documents.parquet").select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"))),

    // language ID (marker n-gram heuristic)
    "text_lang_id" -> ((s, d) =>
      s.read.parquet(s"$d/documents.parquet").select(col("doc_id"),
        TextStats.langId(col("text")).as("lang_pred"))),

    // quality scoring signals + keep gate (integer per-mille signals)
    "text_quality" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val sig = TextStats.qualitySignals(col("text"))
      docs.select((col("doc_id") +: sig.map { case (n, c) => c.cast("long").as(n) }) :+
        TextStats.qualityKeep(col("text")).as("keep"): _*)
    }),

    // C4 line+page cleaning (Raffel et al. 2020 §2.2) over a
    // deterministically line-structured view of the single-line fixture
    // docs (the replace transform is replayed verbatim in the oracle)
    "text_c4_clean" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val nl = replace(replace(coalesce(col("text"), lit("")),
        lit(" value "), lit(".\n")), lit(" table "), lit("!\n"))
      docs.withColumn("__t", nl)
        .filter(TextStats.c4PageKeep(col("__t")))
        .select(col("doc_id"), TextStats.c4CleanText(col("__t")).as("text_c4"))
    }),

    // Gopher quality gate (Rae et al. 2021 A1.1); the stop-word clause
    // runs with the fixture-vocab set {the, a} so the gate bites — the
    // paper's 8-word set is the operator default (spec-pinned)
    "text_gopher_quality" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val stops = Seq("the", "a")
      val sig = TextStats.gopherSignals(col("text"), stops)
      docs.select((col("doc_id") +: sig.map { case (n, c) => c.cast("long").as(n) }) :+
        TextStats.gopherKeep(col("text"), stops).as("keep"): _*)
    }),

    // repetition signals (the Gopher/RefinedWeb boilerplate filters) over
    // docs with deterministically planted boilerplate lines — explode →
    // (doc, token) partial agg → per-doc max, never an O(len²) scalar
    "text_repetition" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val seeded = docs.withColumn("t2", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\nsubscribe to our newsletter\nsubscribe to our newsletter"))
          .otherwise(lit(""))))
      TextStats.repetition(seeded, "t2", "doc_id")
    }),

    // PII detection + redaction over deterministically planted contacts;
    // the redacted text is compared via md5 (cheap exact cross-engine)
    "text_pii" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val seeded = docs.withColumn("t2", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com via 10.1."),
            (col("doc_id") % 256).cast("string"), lit(".7")))
          .otherwise(lit(""))))
      seeded.select(col("doc_id"),
        TextStats.piiEmailCount(col("t2")).cast("long").as("n_emails"),
        TextStats.piiIpv4Count(col("t2")).cast("long").as("n_ipv4"),
        md5(TextStats.piiRedact(col("t2"))).as("redacted_md5"))
    }),

    // exact dedup (hash-groupBy) over planted exact copies
    "dedup_exact_text" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val planted = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))
      TextDedup.exact(planted, "text", "doc_id").select(col("doc_id"), col("n_copies"))
    }),

    // exact repeated-span removal (fixed-k reading of Lee et al. 2022
    // suffix dedup): any 8-token window occurring twice corpus-wide is
    // cut from every doc; the oracle replays grams, coverage and the
    // rebuilt text md5
    "dedup_repeated_spans" -> ((s, d) =>
      TextDedup.dedupRepeatedSpans(
        s.read.parquet(s"$d/documents.parquet"), "text", "doc_id", k = 8)),

    // paragraph-level exact dedup (CCNet line-dedup rule): the fixture
    // has no newlines, so the query first builds multi-paragraph docs
    // (5 consecutive texts joined by \n) and plants doc 0's text as a
    // boilerplate paragraph in EVERY doc — its global first occurrence
    // (doc 0, pos 0) survives, all others are cut, the within-group-0
    // planted copy included
    "dedup_paragraphs" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val bp = docs.filter(col("doc_id") === 0).select(col("text").as("__bp"))
      val grouped = docs
        .groupBy(floor(col("doc_id") / 5).cast("long").as("gid"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id").as("i"), col("text").as("t")))),
          x => x.getField("t")), "\n").as("text"))
      val withBp = grouped.crossJoin(broadcast(bp))
        .select(col("gid").as("doc_id"),
          concat(col("text"), lit("\n"), col("__bp")).as("text"))
      TextDedup.dedupParagraphs(withBp, "text", "doc_id")
    }),

    // per-host boilerplate removal (site-scoped line rule): injected nav/
    // footer lines are hot on every >=3-doc source and cut everywhere; a
    // sparse promo line (doc_id % 97) stays under the per-source df gate
    // and survives — both sides of the gate exercised
    "host_boilerplate" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("source"),
          concat(lit("Nav Menu "), col("source"), lit("\n"), col("text"),
            when(col("doc_id") % 97 === 0, lit("\nPromo Banner")).otherwise(lit("")),
            lit("\nCopyright "), col("source")).as("text"))
      TextDedup.hostBoilerplate(docs, "source", "text", "doc_id", minDf = 3)
    }),

    // MinHash+LSH near-dup detection, verified — equals exact Jaccard ≥ 0.8
    "dedup_minhash_lsh" -> ((s, d) =>
      TextDedup.minhashLshDuplicates(
        s.read.parquet(s"$d/documents.parquet"), "text", "doc_id")),

    // duplicate-cluster collapse: connected components over the near-dup
    // pair set (distributed min-label propagation); the oracle computes
    // the min reachable id per node with a recursive closure over the
    // exact pair set — proving both the pairs and the clustering
    "dedup_clusters" -> ((s, d) => {
      val pairs = TextDedup.minhashLshDuplicates(
        s.read.parquet(s"$d/documents.parquet"), "text", "doc_id")
      TextDedup.duplicateClusters(pairs.select(col("a"), col("b")))
    }),

    // the step the pipeline actually ships: drop every non-representative
    // cluster member (comp != id), keep everything else — an anti-join of
    // the corpus against the (small) duplicate-member set
    "dedup_survivors" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val pairs = TextDedup.minhashLshDuplicates(docs, "text", "doc_id")
      val comps = TextDedup.duplicateClusters(pairs.select(col("a"), col("b")))
      docs.join(comps.filter(col("comp") =!= col("id"))
          .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // the end-to-end cleaning pipeline a training-data job ships, in the
    // canonical order: exact-dedup collapse (planted byte-copies) →
    // near-dup cluster collapse (MinHash-LSH + connected components) →
    // quality + language gates. Every stage is individually oracled
    // above; this query proves the COMPOSITION cross-engine
    "corpus_clean" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val planted = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))
      // exact-collapse boundary, projected to the two columns every later
      // stage consumes and MATERIALIZED once (r6): the boundary feeds two
      // independent consumers — the near-dup pair plan and the survivors
      // anti-join — whose plans share no exchange, so lazily it was
      // evaluated twice per run (r5's "not materialized" note predates
      // that second consumer costing more than the checkpoint; the
      // explicit select replaces the column pruning the checkpoint blocks)
      val uniq = planted.select(col("doc_id"), col("text"))
        .join(
          TextDedup.exact(planted, "text", "doc_id").select("doc_id"),
          Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      // uniq is exact-collapsed above, so the LSH pass skips its own
      // identity collapse/re-expansion (assumeUnique, r6)
      val pairs = TextDedup.minhashLshDuplicates(uniq, "text", "doc_id",
        assumeUnique = true)
      val comps = TextDedup.duplicateClusters(pairs.select(col("a"), col("b")))
      val survivors = uniq.join(
        comps.filter(col("comp") =!= col("id")).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      survivors
        .filter(TextStats.qualityKeep(col("text")) && TextStats.langId(col("text")) =!= "und")
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_pred"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
    }),

    // CCNet-style LM scoring (log-free exact-integer deviation): unigram
    // model trained on the EVEN-doc_id half so the odd half exercises the
    // OOV ceiling cross-engine; keep gate at 60k milli splits the
    // synthetic corpus (scores ~29k-110k at sf0.01)
    "lm_score" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      // vocab-sized model table, materialized once: lmScore's scaladoc
      // contract — the model plan is consumed twice (mass scalar + token
      // join) and would re-run the training aggregate per consumer
      val model = Corpus.unigramModel(docs.filter(col("doc_id") % 2 === 0), "text")
        .localCheckpoint(true)
      Corpus.lmScore(docs, model, "text", "doc_id", threshold = 60000L)
    }),

    // CCNet head/middle/tail: per-source quality terciles over the LM
    // surprisal score — exact positions via the mixSources dense-seq
    // two-pass pattern, never an ntile window task per source
    "quality_buckets" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      // materialized once — the lmScore two-consumer contract (see lm_score)
      val model = Corpus.unigramModel(docs.filter(col("doc_id") % 2 === 0), "text")
        .localCheckpoint(true)
      val scored = Corpus.lmScore(docs, model, "text", "doc_id", threshold = 60000L)
        .select(col("doc_id"), col("surprisal_milli"))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      Corpus.scoreBuckets(scored, "source", "doc_id", "surprisal_milli", 3)
    }),

    // per-source corpus audit (dolma-style source-mix report): doc /
    // token / quality-keep counts, language spread, deterministic top
    // language per source
    "source_profile" -> ((s, d) =>
      Corpus.sourceProfile(s.read.parquet(s"$d/documents.parquet"),
        "source", "text", "lang")),

    // deterministic stratified sampling: k docs per language by keyed
    // md5 order (WindowGroupLimit partial top-k per mapper — a giant
    // stratum never materializes more than k rows per task)
    "sample_stratified" -> ((s, d) =>
      Corpus.sampleStratified(
          s.read.parquet(s"$d/documents.parquet"), "lang", "doc_id", 20)
        .select(col("doc_id"), col("lang"), col("sample_rank"))),

    // token-budget shard packing: distributed prefix sum (dense-seq
    // pattern — per-partition sums + scanLeft offsets, never a
    // single-partition global window)
    "shard_pack" -> ((s, d) =>
      Corpus.packShards(
        s.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id"), TextStats.tokenCount(col("text")).as("nt")),
        "doc_id", "nt", budget = 2000L)),

    // fixed-window chunking with overlap (LM pretraining windows):
    // 32-token chunks every 24 tokens; the oracle replays tokenization,
    // start positions and the per-window md5
    "corpus_chunk" -> ((s, d) =>
      Corpus.chunkDocs(s.read.parquet(s"$d/documents.parquet"),
        "text", "doc_id", chunkSize = 32, stride = 24)),

    // GPT-style concat-and-chunk sequence packing: docs in id order get
    // global token offsets (the packShards prefix-sum bridge, never a
    // global window), then each doc splits across the fixed-length
    // training sequences it overlaps
    "pack_sequences" -> ((s, d) =>
      Corpus.packSequences(s.read.parquet(s"$d/documents.parquet"),
        "text", "doc_id", seqLen = 64)),

    // source-weighted corpus mixing (the dolma/RedPajama mixing step):
    // per-source token budgets — here a deterministic function of the
    // source id so the rule scales with sf — filled in keyed-md5 order
    // by an exclusive-prefix rule (distributed per-source prefix sums,
    // never a per-source window task)
    "corpus_mix" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val budget = lit(200L) *
        (lit(1) + regexp_extract(col("source"), "src(\\d+)", 1).cast("int") % 3)
      Corpus.mixSources(
        docs.select(col("doc_id"), col("source"),
          TextStats.tokenCount(col("text")).as("nt")),
        "source", "doc_id", "nt", budget) // output: (doc_id, source, n_tokens)
    }),

    // benchmark decontamination (the GPT-3/Gopher n-gram rule), flag
    // stage: eval set = a prefix snippet of every 41st document, length
    // varied 8..14 words by doc_id so per-doc hit counts differ (a
    // value-discriminating hash check, not a constant column); a doc is
    // contaminated iff it shares an 8-gram with the eval set. Bench
    // grams are distinct+broadcast; the corpus side is one map-side
    // pass — the shipping anti-join is Corpus.decontaminate
    "decontaminate" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val bench = docs.filter(col("doc_id") % 41 === 0)
        .select(array_join(slice(Corpus.wordTokens(col("text")), lit(1),
          lit(8) + col("doc_id") % 7), " ").as("text"))
      Corpus.contaminationHits(docs, bench, "text", "doc_id", n = 8)
    }),

    // decontamination SHIPPING stage: the corpus minus every flagged doc
    // (the anti-join end of the pipeline — hint-free, AQE-sized; the flag
    // stage above proves the gram matching, this proves the ship)
    "decontaminate_ship" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val bench = docs.filter(col("doc_id") % 41 === 0)
        .select(array_join(slice(Corpus.wordTokens(col("text")), lit(1),
          lit(8) + col("doc_id") % 7), " ").as("text"))
      Corpus.decontaminate(docs, bench, "text", "doc_id", n = 8)
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // host-graph PageRank (importance-ordered crawl scheduling, Cho &
    // Garcia-Molina 1998): integer fixed-point with floor division, so
    // five iterations replay EXACTLY in any engine — no IEEE drift, no
    // tolerance. Synthetic 200-host outlink graph derived from orders;
    // dst uses a SECOND modulus (193, coprime to 200) so it varies
    // within each src residue class — out/in-degrees differ and the
    // rank vector is non-uniform (a same-modulus affine map is a
    // permutation whose fixed point IS the initial vector: useless)
    // host-graph weakly-connected components (site clustering / mirror
    // detection): the dedup engine's component machinery over link
    // edges — 25-step cycles mod 500 give a known 25-component shape
    "host_components" -> ((s, d) => {
      val e = s.sql(
        s"""SELECT DISTINCT o_orderkey % 500 AS a,
                   (o_orderkey % 500 + 25) % 500 AS b
            FROM parquet.`$d/orders.parquet`""")
      TextDedup.duplicateClusters(e)
        .select(col("id").as("host_id"), col("comp"))
    }),

    "pagerank_hosts" -> ((s, d) => {
      val e = s.sql(
        s"""SELECT DISTINCT o_orderkey % 200 AS src,
                   o_orderkey % 193 AS dst
            FROM parquet.`$d/orders.parquet`
            WHERE o_orderkey % 200 <> o_orderkey % 193""")
      LinkGraph.pageRank(e, "src", "dst", iters = 5)
        .select(col("node").as("host_id"), col("rank"))
    }),

    // anchor-text corpus: per link target, the aggregated "what the web
    // calls this page" signal (LinkGraph.anchorSummary). Links are a
    // deterministic synthetic feed from the frontier (vocab index seq%3
    // is COPRIME to the dst moduli, so every target sees several anchor
    // strings — the top-1 pick and its lexicographic tie-break are
    // actually exercised, as are ''-anchor rows and the ws-collapse
    // normalization). Extraction of (href, anchor) pairs from real HTML
    // is engine-only, pinned by ExtractSpec
    "anchor_texts" -> ((s, d) => {
      val e = enriched(s, d)
      val vocab = array(lit("click here"), lit("  Read   More "),
        concat(lit("Page "), (col("seq") % 7).cast("string")))
      // the two link feeds (every row + the seq%3 hub rows) come from ONE
      // pass over the UDF-enriched frame via a conditional-array explode —
      // the r5 two-branch union evaluated the enrich UDFs twice; the
      // produced link rows are identical (same oracle)
      val row1 = struct(
        concat(lit("http://t"), (col("seq") % 40).cast("string"),
          lit(".example.com/p/"), (col("seq") % 200).cast("string")).as("dst"),
        element_at(vocab, ((col("seq") % 3) + 1).cast("int")).as("anchor"))
      val row2 = struct(
        concat(lit("http://t"), (col("seq") % 40).cast("string"),
          lit(".example.com/p/"), ((col("seq") * 7) % 200).cast("string")).as("dst"),
        when(col("seq") % 9 === 0, lit("")).otherwise(lit("hub")).as("anchor"))
      val links = e.select(col("host").as("src_host"),
          explode(when(col("seq") % 3 === 0, array(row1, row2))
            .otherwise(array(row1))).as("l"))
        .select(col("src_host"), col("l.dst").as("dst"), col("l.anchor").as("anchor"))
      LinkGraph.anchorSummary(links, "src_host", "dst", "anchor")
    }),

    // inverted index (token → postings): exact df per token; postings
    // md5 only where df <= 32 (the reducer-memory contract — hot/stopword
    // tokens keep exact counts but report the '' sentinel, never a
    // corpus-sized collect_list)
    "index_postings" -> ((s, d) =>
      Corpus.invertedIndex(s.read.parquet(s"$d/documents.parquet"),
        "text", "doc_id", maxDf = 32)),

    // BM25-shaped ranked retrieval, integer fixed-point (rational idf —
    // no log, no IEEE drift; see Search scaladoc). Four probe queries
    // over the corpus vocabulary, incl. one with an absent term
    "search_bm25" -> ((s, d) =>
      Search.bm25TopK(s.read.parquet(s"$d/documents.parquet"), "text", "doc_id",
        queries = Bm25Queries, k = 10)),

    // tumbling-window event rollup (native window() grouping, streaming-
    // compatible); DOUBLE values fixed-pointed to cents BEFORE the sum
    "events_window_agg" -> ((s, d) =>
      Events.windowAgg(s.read.parquet(s"$d/events.parquet"),
        "ts", "event_type", "user_id", "value", every = "1 hour")),

    // JSON metadata promotion (codegen get_json_object, no UDF): integer
    // field $.k rolled up per event type
    "events_props_agg" -> ((s, d) =>
      Events.propsAgg(s.read.parquet(s"$d/events.parquet"),
        "event_type", "props", "$.k")),

    // gap-based sessionization over the events stream (Spark's native
    // session_window — the same expression works under Structured
    // Streaming with a watermark); integer-micros output, no IEEE
    "events_sessionize" -> ((s, d) =>
      Sessions.sessionize(s.read.parquet(s"$d/events.parquet"),
        "user_id", "ts", "event_id", gap = "24 hours")),

    // cohort retention (daily periods so the 2-week fixture spread
    // yields a real triangle): distinct (user, period) first, then
    // min-cohort + count per (cohort, offset)
    "events_retention" -> ((s, d) =>
      Events.retention(s.read.parquet(s"$d/events.parquet"),
        "user_id", "ts", periodDays = 1)),

    // strict-order conversion funnel (view → click → purchase): first
    // time of each step strictly after the previous step's time — one
    // user-keyed join + partial min aggregate per step, never a
    // per-user sorted event list
    "events_funnel" -> ((s, d) =>
      Events.funnel(s.read.parquet(s"$d/events.parquet"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))),

    // NFC normalization (native codegen Expression, ASCII zero-copy fast
    // path). The synthetic corpus is pure ASCII, so a DECOMPOSED suffix
    // (e+U+0301, A+U+030A) is appended per row — the md5 matches DuckDB's
    // nfc_normalize only if composition actually ran on every row
    "text_normalize" -> ((s, d) =>
      s.read.parquet(s"$d/documents.parquet").select(col("doc_id"),
        md5(graft.functions.TextNormExprs.normalizeNfc(
          concat(coalesce(col("text"), lit("")), lit(" cafe\u0301 A\u030A"))))
          .as("norm_md5"))),

    // exact n-gram Jaccard pairs (threshold 500‰). maxDf=32 caps the
    // candidate self-join's hot-shingle fan-out; the reported Jaccard is
    // still exact over ALL shingles, and the DuckDB oracle (uncapped
    // exact) proves the cap loses nothing on this corpus. Shingles ride
    // as 8-byte xxhash64 keys (r6, the same swap the MinHash path made):
    // every consumer — df cap, self-join, sizes, set verify — uses them
    // through equality only, so no phrase string is ever built and the
    // hot self-join shuffles 8 bytes per shingle instead of ~25 (values
    // identical up to 2^-64 collisions; the uncapped-exact string oracle
    // pins the output either way)
    "dedup_ngram_jaccard" -> ((s, d) =>
      TextDedup.jaccardPairs(
        TextDedup.shingleHashes(s.read.parquet(s"$d/documents.parquet"), "text", "doc_id", 3),
        500, maxDf = 32)),

    // SimHash near-dup via the Manku block-combination trick (6 blocks →
    // C(6,3)=20 combos of ~32-bit keys: O(1) expected bucket size at
    // 10^9+ docs, vs the quadratic 16-bit single-block keys); the oracle
    // recomputes the md5-nibble simhash in SQL and takes the EXACT
    // all-pairs Hamming set — i.e. it proves the pigeonhole join finds
    // every pair
    "dedup_simhash" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val planted = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))
      TextDedup.simhashDuplicates(planted, "text", "doc_id", maxDist = 3, nBlocks = 6)
    }),

    // brute-force cosine top-k (exact ANN baseline); double precision so
    // the DuckDB oracle (DOUBLE[] cast) computes the identical ranking
    "embed_topk" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 3)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // embedding-cosine near-dup pairs — SHIPPED path is LSH candidates
    // (48 tables × 5-bit signatures: bucket equi-join, no cartesian);
    // the oracle is the EXACT pair set, so the run proves candidate
    // coverage down to the pairs sitting right at the 400‰ threshold.
    // Double precision so the DuckDB oracle computes the identical cosine
    "dedup_embedding_cosine" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      Similarity.cosineNearDups(emb, "vec_id", "embedding", 400, dim = 64,
        tables = 48, bits = 5)
    }),

    // SemDeDup: cluster-scoped semantic near-dup pairs. The shipped
    // query scopes by the corpus's own label column (any cluster
    // assignment slots in — k-means via withKmeansCluster is spec-pinned)
    // so DuckDB replays the whole operator exactly
    "dedup_semantic" -> ((s, d) =>
      Similarity.semanticDupPairs(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", "label", minCosineMilli = 400)),

    // IVF ANN machinery oracle: exhaustive probing (nProbe = nClusters)
    // makes the quantize→probe→re-rank pipeline provably equal exact
    // top-k, so the DuckDB oracle pins ids AND ranks; approximation
    // quality at nProbe < nClusters is pinned by the recall spec and the
    // `embed_ann_ivf_probe` containment query below
    "embed_ann_ivf" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 3,
        nClusters = 16, nProbe = 16, iters = 2)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // the SHIPPED IVF configuration (nProbe=4 of 16 clusters — each query
    // scans ~1/4 of the corpus): property oracle like embed_ann_lsh —
    // exactly k results per query, every one inside the Spark-exact
    // top-20 (itself the oracled brute-force machinery); measured
    // headroom on both fixture SFs: all results sit in the exact top-20
    // at nProbe=4 (and in the top-10 at nProbe=6)
    "embed_ann_ivf_probe" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val embD = emb.withColumn("embedding", col("embedding").cast("array<double>"))
      val q = emb.filter(col("vec_id") < 20)
      val ann = Similarity.ivfTopK(q, emb, "vec_id", "embedding", 3,
        nClusters = 16, nProbe = 4, iters = 2)
      val exact20 = Similarity.bruteForceTopK(
          embD.filter(col("vec_id") < 20), embD, "vec_id", "embedding", 20)
        .select(col("query_id"), col("neighbor_id")).withColumn("__in", lit(1L))
      ann.join(exact20, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_results"),
          sum(coalesce(col("__in"), lit(0L))).as("n_in_exact_top20"))
    }),

    // LSH-bucketed ANN property oracle: every returned neighbor must be
    // a member of the Spark-exact top-10 (itself oracled via embed_topk),
    // and exactly k results per query — collapses to a constant table
    // the DuckDB side states independently
    "embed_ann_lsh" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 20)
      val ann = Similarity.lshTopK(q, emb, "vec_id", "embedding", 3, dim = 64)
      val exact10 = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id")).withColumn("__in", lit(1L))
      ann.join(exact10, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_results"),
          sum(coalesce(col("__in"), lit(0L))).as("n_in_exact_top10"))
    }),

    // document fingerprinting (rolling hash; oracle replays the
    // polynomial in HUGEINT mod 2^64)
    "text_fingerprint" -> ((s, d) =>
      s.read.parquet(s"$d/documents.parquet").select(col("doc_id"),
        TextStats.fingerprintUdf(col("text")).as("fp"))),

    // multimodal binary plumbing (decode stubbed, features real byte work);
    // histogram emitted as a csv scalar so the driver's pandas comparator
    // can sort/hash it, and so the DuckDB oracle (which replays the
    // deterministic fake-media LCG) compares exactly
    "multimodal_features" -> ((s, _) =>
      Multimodal.extractFeatures(s, Multimodal.mediaTable(s, 200L))
        .select(col("doc_id"), col("format"), col("n_bytes"),
          col("mean_byte_milli"),
          concat_ws(",", col("histogram")).as("hist_csv"),
          col("thumb_w"), col("thumb_h"))),

    // spider-trap detection (Heritrix pathological-path/depth/param rules)
    // over the trap-shaped frontier — a pure map-side projection
    "url_trap_detect" -> ((s, d) =>
      operators.Traps.detect(trapUrlsDF(s, d))
        .select(col("url"), col("seq"), col("depth"), col("seg_repeat"),
          col("n_params"), col("is_trap"))),

    // freshness-driven re-crawl schedule (Cho & Garcia-Molina 2003):
    // revisit history derived from lineitem (one snapshot per line item,
    // url keyed like the frontier fixture, signature = integer quantity);
    // change-rate estimate per url, then top-3 per host by rate
    "recrawl_schedule" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val snaps = li.select(
        concat(lit("http://host"), ((col("l_orderkey") % 5000) % 50).cast("string"),
          lit(".example.com/o/"), (col("l_orderkey") % 5000).cast("string")).as("url"),
        // l_shipdate reads as TIMESTAMP_NTZ; the session TZ is pinned UTC
        // so the LTZ cast is the identity wall-clock DuckDB's epoch_us sees
        expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000").as("day"),
        col("l_quantity").cast("int").as("sig"),
        col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"))
      val rates = operators.Recrawl.changeRates(snaps, tieCols = Seq("okey", "lnum"))
        .withColumn("host", regexp_extract(col("url"), "^http://([^/]+)", 1))
      operators.Recrawl.schedule(rates, 3)
        .select(col("host"), col("url"), col("n_obs"), col("changes"),
          col("span_days"), col("rate_milli"))
    }),

    // newest-revision-wins collapse (the Common-Crawl revisit shape):
    // same lineitem-derived snapshot stream as recrawl_schedule; keep
    // the latest capture per url, version order (day, okey, lnum) —
    // unique within a url — via the WindowGroupLimit rank-1 filter
    "url_latest_revision" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val snaps = li.select(
        concat(lit("http://host"), ((col("l_orderkey") % 5000) % 50).cast("string"),
          lit(".example.com/o/"), (col("l_orderkey") % 5000).cast("string")).as("url"),
        expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000").as("day"),
        col("l_quantity").cast("int").as("sig"),
        col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"))
      Dedup.latestRevision(snaps, "url", Seq("day", "okey", "lnum"))
    }),

    // deterministic content-keyed train/val/test split (980/10/10 over
    // 1000 buckets): a pure projection whose verdict survives any
    // re-sharding or append, unlike positional randomSplit
    "split_assign" -> ((s, d) =>
      Corpus.hashSplit(s.read.parquet(s"$d/documents.parquet"),
          "doc_id", Seq("train" -> 980, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("bucket"), col("split"))),

    // domain-blocklist verdict over a depth-varied host dimension:
    // nation-derived exact-host entries (host0..host24.example.com)
    // must block the bare host AND its www subdomain; the example.net
    // suffix entry blocks the 3-label cdn.img hosts; host25..39 pass
    "host_blocklist" -> ((s, d) => {
      val hosts = s.sql(
        s"""SELECT host, CAST(count(*) AS BIGINT) AS n_urls FROM (
              SELECT CASE CAST(o_orderkey % 3 AS INT)
                       WHEN 0 THEN concat('www.host', CAST(o_orderkey % 40 AS STRING), '.example.com')
                       WHEN 1 THEN concat('host', CAST(o_orderkey % 40 AS STRING), '.example.com')
                       ELSE concat('cdn.img.host', CAST(o_orderkey % 40 AS STRING), '.example.net')
                     END AS host
              FROM parquet.`$d/orders.parquet`) h
            GROUP BY host""")
      val bl = s.read.parquet(s"$d/nation.parquet")
        .select(concat(lit("host"), col("n_nationkey").cast("string"),
          lit(".example.com")).as("entry"))
        .union(s.range(1).select(lit("example.net").as("entry")))
      Blocklist.verdict(hosts, "host", bl, "entry")
        .select(col("host"), col("n_urls"), col("is_blocked"))
    }),

    // OPIC online page importance (Abiteboul et al. 2003) after 5
    // synchronous waves: integer cash/history with the virtual-root
    // topup, exactly replayable. The src range (0..119) is a strict
    // subset of the dst range (0..199), so nodes 120..199 are dangling
    // — their cash drains to the virtual root and re-deals to everyone,
    // exercising the conservation path, not just the happy loop
    "opic_hosts" -> ((s, d) => {
      val e = s.sql(
        s"""SELECT DISTINCT o_orderkey % 120 AS src, (o_orderkey * 7) % 200 AS dst
            FROM parquet.`$d/orders.parquet`
            WHERE o_orderkey % 120 <> (o_orderkey * 7) % 200""")
      LinkGraph.opic(e, "src", "dst", iters = 5)
        .select(col("node").as("host_id"), col("cash"), col("hist"))
    }),

    // redirect-chain resolution by pointer doubling (5 rounds cover the
    // 32-hop horizon): id-decade chains 0→1→…→7 (7 terminal, so hops
    // run 7 down to 1) plus the planted 8⇄9 two-cycle per decade; the
    // cycle keeps every round live, so the engine's early-stop replays
    // the oracle's full unroll exactly
    "redirect_resolve" -> ((s, d) => {
      val e = s.sql(
        s"""SELECT DISTINCT concat('http://r.example.com/u/', CAST(k AS STRING)) AS src,
                   concat('http://r.example.com/u/',
                          CAST(CASE WHEN k % 10 = 9 THEN k - 1 ELSE k + 1 END AS STRING)) AS dst
            FROM (SELECT o_orderkey % 5000 AS k FROM parquet.`$d/orders.parquet`) t
            WHERE k % 10 <> 7""")
      operators.Redirects.resolve(e, "src", "dst", maxHops = 32)
    }),

    // page-level REP directives (meta robots + rel=canonical): six html
    // shapes — name-first / content-first / uppercase / single-quoted /
    // root-relative / protocol-relative / the token-boundary trap
    // ('noindexing' must NOT read as noindex) — parsed by the codegen
    // regexp columns, canonical resolved against the page's own origin
    "page_directives" -> ((s, d) => {
      val e = enriched(s, d)
      val canonAbs = concat(lit("http://t"), (col("seq") % 40).cast("string"),
        lit(".example.com/c/"), (col("seq") % 200).cast("string"))
      val html = when(col("seq") % 6 === 0, concat(
          lit("<head><meta name=\"robots\" content=\"noindex, nofollow\">" +
            "<link rel=\"canonical\" href=\""), canonAbs, lit("\"></head>")))
        .when(col("seq") % 6 === 1, lit("<META CONTENT=\"NOFOLLOW\" NAME=\"robots\">"))
        .when(col("seq") % 6 === 2, concat(lit("<link href='/c/"),
          (col("seq") % 200).cast("string"), lit("' rel='canonical'>")))
        .when(col("seq") % 6 === 3, lit("<meta name=\"robots\" content=\"noindexing,all\">"))
        .when(col("seq") % 6 === 4, lit("<p>plain</p>"))
        .otherwise(lit("<link rel=\"canonical\" href=\"//cdn.example.com/x\">"))
      e.select(col("seq"),
        Robots.metaRobotsHas(html, "noindex").as("noindex"),
        Robots.metaRobotsHas(html, "nofollow").as("nofollow"),
        Robots.canonicalUrl(html, col("url_canon")).as("canonical"))
    }),

    // OpenGraph/JSON-LD metadata sidecar: both attribute orders, quote
    // styles and casings; content case preserved; absent → null
    "page_metadata" -> ((s, d) => {
      val e = enriched(s, d)
      val t = (col("seq") % 100).cast("string")
      val html = when(col("seq") % 6 === 0, concat(
          lit("<head><meta property=\"og:title\" content=\"Title "), t,
          lit("\"><meta property=\"og:description\" content=\"Desc "), t,
          lit("\"></head>")))
        .when(col("seq") % 6 === 1, concat(
          lit("<META CONTENT=\"Rev Title "), t, lit("\" PROPERTY=\"og:title\">")))
        .when(col("seq") % 6 === 2, concat(
          lit("<meta name='og:title' content='Single "), t, lit("'>")))
        .when(col("seq") % 6 === 3, concat(
          lit("<meta property=\"article:published_time\" content=\"2024-0"),
          (lit(1) + col("seq") % 9).cast("string"), lit("-15\">")))
        .when(col("seq") % 6 === 4, concat(
          lit("<script type=\"application/ld+json\">{\"headline\": \"LD "), t,
          lit("\", \"datePublished\": \"2023-12-01\"}</script>")))
        .otherwise(lit("<p>no metadata</p>"))
      e.select(col("seq"), graft.functions.PageMeta.standardSidecar(html).as("m"))
        .select(col("seq"),
          col("m.og_title").as("og_title"),
          col("m.og_description").as("og_description"),
          col("m.published_time").as("published_time"),
          col("m.ld_headline").as("ld_headline"),
          col("m.ld_date_published").as("ld_date_published"))
    }),

    // fasttext-shaped linear quality scorer: corpus-derived fixture
    // model (weight_milli = (len(token)-4)*250 — stopword-ish short
    // tokens weigh negative), mean-pooled integer score, keep >= 0
    "quality_linear" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val model = docs
        .select(explode(Corpus.wordTokens(col("text"))).as("token")).distinct()
        .select(col("token"),
          ((length(col("token")) - 4) * 250).cast("long").as("weight_milli"))
      Corpus.linearScore(docs, model, "text", "doc_id",
        biasMilli = -500L, thresholdMilli = 0L)
    }),

    // CDX capture index (the CC/Wayback artifact): SURT urlkey —
    // host-reversed, www-stripped, port-carrying — over a fixture that
    // exercises every branch (www prefix, :8080 port, query, mixed
    // case), 14-digit wall-clock ts, payload digest/length
    "cdx_index" -> ((s, d) => {
      val pages = s.sql(
        s"""SELECT concat('http://', CASE WHEN k % 4 = 0 THEN 'www.' ELSE '' END,
                     'Host', CAST(k % 40 AS STRING), '.Example.com',
                     CASE WHEN k % 5 = 0 THEN ':8080' ELSE '' END,
                     '/o/', CAST(k AS STRING),
                     CASE WHEN k % 3 = 0 THEN '?a=1&b=2' ELSE '' END) AS url,
                   ts,
                   concat('<html><body>Doc ', CAST(k AS STRING), '</body></html>') AS body
            FROM (SELECT o_orderkey % 5000 AS k, min(o_orderdate) AS ts
                  FROM parquet.`$d/orders.parquet` GROUP BY o_orderkey % 5000) t""")
      operators.Cdx.cdxIndex(pages, "url", "ts", "body")
    }),

    // O1-O12 wave loop end-to-end (engine-only → rows-only)
    "crawl_schedule" -> ((s, _) => {
      val v = 150L
      val pages = Fixtures.pagesDF(s, v)
      // tmpfs-backed scratch when available (FrontierBench.scratchDir):
      // the checkpointed wave state is throwaway bench state, and /tmp is
      // plain disk in the sandbox while a cluster's state store is
      // page-cached NVMe — same rationale as the frontier bench's seen
      // table. The computed schedule is identical either way.
      val dir = FrontierBench.scratchDir("graft-q-crawl").toString
      val settings = CrawlSettings(size = 40, nPriorities = 1, hostBudget = 6,
        waveCap = 40, retries = 1, maxWaves = 8, urlPattern = Fixtures.UrlPattern,
        extract = false, bloomCapacity = 4096, numBuckets = 8)
      val job = new CrawlJob(s, pages, settings, dir)
      job.run(Fixtures.seeds(v))
      job.scheduleTable
    }))

  /** Observability sidecars: named scalar checks recorded NEXT TO a
    * query's verify/bench run (not part of the oracled result schema —
    * the driver compare hashes result columns, so these ride a separate
    * channel). One entry today: the jaccard df-cap's blind spot —
    * documents whose shingles are ALL hotter than maxDf can never form a
    * candidate pair, so a non-zero count on a corpus means the cap is
    * silently eating recall there and maxDf should rise (VERDICT r3 #3). */
  def observability: Map[String, (SparkSession, String) => Map[String, Long]] = Map(
    "dedup_ngram_jaccard" -> ((s, d) => {
      val sh = TextDedup.shingleHashes(
        s.read.parquet(s"$d/documents.parquet"), "text", "doc_id", 3)
      Map("hot_only_doc_count_maxdf32" -> TextDedup.hotOnlyDocCount(sh, 32))
    }))

  /** Probe queries for the BM25 search op — fixed vocabulary words of the
    * synthetic corpus (stable across SFs: same generator), plus one term
    * that appears nowhere (`qzzz`). */
  private val Bm25Queries: Seq[(String, String)] = Seq(
    "q1" -> "spark join merge",
    "q2" -> "window filter vector",
    "q3" -> "customer order table scan",
    "q4" -> "qzzz filter")

  private def bm25QueryValues: String =
    Bm25Queries.flatMap { case (qid, qtext) =>
      qtext.trim.split("\\s+").filter(_.nonEmpty).distinct.map(t => s"('$qid','$t')")
    }.mkString(", ")

  /** DuckDB replay of the integer PageRank update, one chained CTE per
    * iteration (`//` is DuckDB floor division ≙ Spark `div` on the
    * non-negative operands here). */
  private def pagerankOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""it$i AS (
            SELECT n.node,
                   CAST(150000 + (85 * coalesce(f.inflow, 0)) // 100 AS BIGINT) AS rank
            FROM nodes n LEFT JOIN (
              SELECT e.dst AS node, sum(r.rank // o.deg) AS inflow
              FROM edges e
              JOIN it${i - 1} r ON r.node = e.src
              JOIN outdeg o ON o.src = e.src
              GROUP BY e.dst) f ON f.node = n.node)"""
    }.mkString(",\n")
    s"""WITH edges AS (
          SELECT DISTINCT o_orderkey % 200 AS src,
                 o_orderkey % 193 AS dst
          FROM orders
          WHERE o_orderkey % 200 <> o_orderkey % 193),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        it0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        $steps
        SELECT node AS host_id, rank FROM it$iters"""
  }

  /** DuckDB replay of the integer OPIC update (same chained-CTE pattern
    * as [[pagerankOracle]]): per iteration an eff CTE applies the
    * virtual-root topup — the virtual balance recovered by conservation
    * as mass - sum(cash), exactly the engine's arithmetic — and a state
    * CTE banks history and re-deals cash along the edges. */
  private def opicOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""eff$i AS (
            SELECT node,
                   cash + ((SELECT mass FROM tot) - (SELECT sum(cash) FROM it${i - 1}))
                     // (SELECT n FROM tot) AS eff,
                   hist
            FROM it${i - 1}),
          it$i AS (
            SELECT e.node,
                   CAST(coalesce(f.inflow, 0) AS BIGINT) AS cash,
                   CAST(e.hist + e.eff AS BIGINT) AS hist
            FROM eff$i e LEFT JOIN (
              SELECT ed.dst AS node, sum(ef.eff // o.deg) AS inflow
              FROM edges ed
              JOIN eff$i ef ON ef.node = ed.src
              JOIN outdeg o ON o.src = ed.src
              GROUP BY ed.dst) f ON f.node = e.node)"""
    }.mkString(",\n")
    s"""WITH edges AS (
          SELECT DISTINCT o_orderkey % 120 AS src, (o_orderkey * 7) % 200 AS dst
          FROM orders
          WHERE o_orderkey % 120 <> (o_orderkey * 7) % 200),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        tot AS (SELECT count(*) AS n, count(*) * 1000000 AS mass FROM nodes),
        it0 AS (SELECT node, CAST(1000000 AS BIGINT) AS cash,
                       CAST(0 AS BIGINT) AS hist FROM nodes),
        $steps
        SELECT node AS host_id, cash, hist FROM it$iters"""
  }

  /** DuckDB replay of the pointer-doubling redirect resolution: each CTE
    * self-joins the previous mapping (2^k hops after k rounds), then the
    * final projection flags still-jumpable pointers as cycles. */
  private def redirectOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""s$i AS (
            SELECT a.src, coalesce(b.target, a.target) AS target,
                   a.hops + coalesce(b.hops, 0) AS hops
            FROM s${i - 1} a LEFT JOIN s${i - 1} b ON b.src = a.target)"""
    }.mkString(",\n")
    s"""WITH edges AS (
          SELECT DISTINCT concat('http://r.example.com/u/', CAST(k AS STRING)) AS src,
                 concat('http://r.example.com/u/',
                        CAST(CASE WHEN k % 10 = 9 THEN k - 1 ELSE k + 1 END AS STRING)) AS dst
          FROM (SELECT o_orderkey % 5000 AS k FROM orders) t
          WHERE k % 10 <> 7),
        s0 AS (SELECT src, dst AS target, CAST(1 AS BIGINT) AS hops FROM edges),
        $steps
        SELECT a.src, a.target, CAST(a.hops AS BIGINT) AS hops,
               (b.src IS NOT NULL) AS is_cycle
        FROM s$rounds a LEFT JOIN (SELECT DISTINCT src FROM edges) b
          ON b.src = a.target"""
  }

  /** DuckDB-equivalent SQL per query (same parquet tables). */
  def oracleSql: Map[String, String] = Map(
    // replays weakly-connected components as recursive min-label
    // reachability (bounded: 500 nodes × 20-node components)
    "host_components" ->
      """WITH RECURSIVE edges AS (
           SELECT DISTINCT o_orderkey % 500 AS a,
                  (o_orderkey % 500 + 25) % 500 AS b
           FROM orders),
         und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
         nodes AS (SELECT DISTINCT a AS n FROM und),
         reach(n, l) AS (
           SELECT n, n FROM nodes
           UNION
           SELECT u.b, r.l FROM reach r JOIN und u ON u.a = r.n)
         SELECT n AS host_id, min(l) AS comp FROM reach GROUP BY n""",

    "pagerank_hosts" -> pagerankOracle(5),
    "opic_hosts" -> opicOracle(5),
    "redirect_resolve" -> redirectOracle(5),

    // same tokenization as lm_score; weight/mean-pool arithmetic is all
    // integer (both engines truncate integer division toward zero)
    "quality_linear" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(trim(text), '\s+'),
                         w -> len(w) > 0)) AS token
           FROM documents),
         model AS (SELECT token, CAST((len(token) - 4) * 250 AS BIGINT) AS weight_milli
                   FROM (SELECT DISTINCT token FROM tok) v),
         agg AS (SELECT t.doc_id, count(*) AS n_tokens,
                        CAST(-500 + sum(coalesce(m.weight_milli, 0)) // count(*) AS BIGINT)
                          AS score_milli
                 FROM tok t LEFT JOIN model m USING (token)
                 GROUP BY t.doc_id)
         SELECT d.doc_id,
                coalesce(a.n_tokens, 0) AS n_tokens,
                coalesce(a.score_milli, -500) AS score_milli,
                coalesce(a.score_milli, -500) >= 0 AS keep
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN agg a USING (doc_id)""",

    // SURT replay with list_reverse over the dot-split host; md5 over
    // the same ASCII payload string, octet length via the blob cast
    "cdx_index" ->
      """WITH pages AS (
           SELECT concat('http://', CASE WHEN k % 4 = 0 THEN 'www.' ELSE '' END,
                    'Host', CAST(k % 40 AS STRING), '.Example.com',
                    CASE WHEN k % 5 = 0 THEN ':8080' ELSE '' END,
                    '/o/', CAST(k AS STRING),
                    CASE WHEN k % 3 = 0 THEN '?a=1&b=2' ELSE '' END) AS url,
                  ts,
                  concat('<html><body>Doc ', CAST(k AS STRING), '</body></html>') AS body
           FROM (SELECT o_orderkey % 5000 AS k, min(o_orderdate) AS ts
                 FROM orders GROUP BY o_orderkey % 5000) t),
         parts AS (
           SELECT url, ts, body, lower(trim(url)) AS u,
                  regexp_extract(lower(trim(url)), '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS hostport
           FROM pages),
         built AS (
           SELECT url, ts, body, hostport,
                  array_to_string(list_reverse(string_split(
                    regexp_replace(string_split(hostport, ':')[1], '^www\.', ''), '.')), ',') AS rev,
                  nullif(regexp_extract(hostport, ':([0-9]+)$', 1), '') AS port,
                  regexp_extract(u, '^[a-z][a-z0-9+.-]*://[^/?#]+([/?].*)?$', 1) AS rest
           FROM parts)
         SELECT CASE WHEN hostport = '' OR hostport IS NULL THEN NULL
                     ELSE rev || coalesce(':' || port, '') || ')' ||
                          CASE WHEN rest = '' THEN '/' ELSE rest END END AS urlkey,
                strftime(ts, '%Y%m%d%H%M%S') AS ts,
                md5(body) AS digest,
                CAST(octet_length(CAST(body AS BLOB)) AS BIGINT) AS length,
                url
         FROM built""",

    // replays the directive regexps (RE2-safe: no backreferences) +
    // token-bounded comma-list check + origin-resolved canonical; note
    // DuckDB regexp_replace needs the explicit 'g' flag Spark implies
    "page_directives" ->
      s"""WITH urls AS (${urlsCte("orders")}),
          e AS ($enrichedOracle),
          pages AS (
            SELECT seq, url_canon,
              CASE CAST(seq % 6 AS INT)
                WHEN 0 THEN '<head><meta name="robots" content="noindex, nofollow">' ||
                            '<link rel="canonical" href="http://t' || CAST(seq % 40 AS STRING) ||
                            '.example.com/c/' || CAST(seq % 200 AS STRING) || '"></head>'
                WHEN 1 THEN '<META CONTENT="NOFOLLOW" NAME="robots">'
                WHEN 2 THEN '<link href=''/c/' || CAST(seq % 200 AS STRING) || ''' rel=''canonical''>'
                WHEN 3 THEN '<meta name="robots" content="noindexing,all">'
                WHEN 4 THEN '<p>plain</p>'
                ELSE '<link rel="canonical" href="//cdn.example.com/x">'
              END AS html
            FROM e),
          m AS (
            SELECT seq, url_canon,
              CASE WHEN regexp_extract(lower(html),
                     '(?s)<meta[^>]*name\\s*=\\s*["'']robots["''][^>]*content\\s*=\\s*["'']([^"'']*)', 1) <> ''
                   THEN regexp_extract(lower(html),
                     '(?s)<meta[^>]*name\\s*=\\s*["'']robots["''][^>]*content\\s*=\\s*["'']([^"'']*)', 1)
                   ELSE regexp_extract(lower(html),
                     '(?s)<meta[^>]*content\\s*=\\s*["'']([^"'']*)["''][^>]*name\\s*=\\s*["'']robots["'']', 1)
              END AS mc,
              trim(CASE WHEN regexp_extract(lower(html),
                     '(?s)<link[^>]*rel\\s*=\\s*["'']canonical["''][^>]*href\\s*=\\s*["'']([^"'']*)', 1) <> ''
                   THEN regexp_extract(lower(html),
                     '(?s)<link[^>]*rel\\s*=\\s*["'']canonical["''][^>]*href\\s*=\\s*["'']([^"'']*)', 1)
                   ELSE regexp_extract(lower(html),
                     '(?s)<link[^>]*href\\s*=\\s*["'']([^"'']*)["''][^>]*rel\\s*=\\s*["'']canonical["'']', 1)
              END) AS href
            FROM pages)
          SELECT seq,
            position(',noindex,' IN ',' || regexp_replace(mc, '\\s+', '', 'g') || ',') > 0 AS noindex,
            position(',nofollow,' IN ',' || regexp_replace(mc, '\\s+', '', 'g') || ',') > 0 AS nofollow,
            CASE WHEN href LIKE 'http://%' OR href LIKE 'https://%' THEN href
                 WHEN href LIKE '//%' THEN NULL
                 WHEN href LIKE '/%' AND regexp_extract(url_canon, '^(https?://[^/?#]+)', 1) <> ''
                   THEN regexp_extract(url_canon, '^(https?://[^/?#]+)', 1) || href
                 ELSE NULL END AS canonical
          FROM m""",

    // replays PageMeta: case-insensitive (?is) tag match with content
    // case preserved, both attribute orders; JSON-LD via the json
    // extension behind a json_valid guard (get_json_object parity)
    "page_metadata" ->
      s"""WITH urls AS (${urlsCte("orders")}),
          e AS ($enrichedOracle),
          pages AS (
            SELECT seq,
              CASE CAST(seq % 6 AS INT)
                WHEN 0 THEN '<head><meta property="og:title" content="Title ' ||
                            CAST(seq % 100 AS STRING) ||
                            '"><meta property="og:description" content="Desc ' ||
                            CAST(seq % 100 AS STRING) || '"></head>'
                WHEN 1 THEN '<META CONTENT="Rev Title ' || CAST(seq % 100 AS STRING) ||
                            '" PROPERTY="og:title">'
                WHEN 2 THEN '<meta name=''og:title'' content=''Single ' ||
                            CAST(seq % 100 AS STRING) || '''>'
                WHEN 3 THEN '<meta property="article:published_time" content="2024-0' ||
                            CAST(1 + seq % 9 AS STRING) || '-15">'
                WHEN 4 THEN '<script type="application/ld+json">{"headline": "LD ' ||
                            CAST(seq % 100 AS STRING) ||
                            '", "datePublished": "2023-12-01"}</script>'
                ELSE '<p>no metadata</p>'
              END AS html
            FROM e),
          ld AS (
            SELECT seq, html,
              nullif(regexp_extract(html,
                '(?is)<script[^>]*type\\s*=\\s*["'']application/ld\\+json["''][^>]*>(.*?)</script>', 1),
                '') AS block
            FROM pages)
          SELECT seq,
            nullif(CASE WHEN regexp_extract(html,
                '(?is)<meta[^>]*(?:property|name)\\s*=\\s*["'']og:title["''][^>]*content\\s*=\\s*["'']([^"'']*)', 1) <> ''
              THEN regexp_extract(html,
                '(?is)<meta[^>]*(?:property|name)\\s*=\\s*["'']og:title["''][^>]*content\\s*=\\s*["'']([^"'']*)', 1)
              ELSE regexp_extract(html,
                '(?is)<meta[^>]*content\\s*=\\s*["'']([^"'']*)["''][^>]*(?:property|name)\\s*=\\s*["'']og:title["'']', 1)
              END, '') AS og_title,
            nullif(CASE WHEN regexp_extract(html,
                '(?is)<meta[^>]*(?:property|name)\\s*=\\s*["'']og:description["''][^>]*content\\s*=\\s*["'']([^"'']*)', 1) <> ''
              THEN regexp_extract(html,
                '(?is)<meta[^>]*(?:property|name)\\s*=\\s*["'']og:description["''][^>]*content\\s*=\\s*["'']([^"'']*)', 1)
              ELSE regexp_extract(html,
                '(?is)<meta[^>]*content\\s*=\\s*["'']([^"'']*)["''][^>]*(?:property|name)\\s*=\\s*["'']og:description["'']', 1)
              END, '') AS og_description,
            nullif(CASE WHEN regexp_extract(html,
                '(?is)<meta[^>]*(?:property|name)\\s*=\\s*["'']article:published_time["''][^>]*content\\s*=\\s*["'']([^"'']*)', 1) <> ''
              THEN regexp_extract(html,
                '(?is)<meta[^>]*(?:property|name)\\s*=\\s*["'']article:published_time["''][^>]*content\\s*=\\s*["'']([^"'']*)', 1)
              ELSE regexp_extract(html,
                '(?is)<meta[^>]*content\\s*=\\s*["'']([^"'']*)["''][^>]*(?:property|name)\\s*=\\s*["'']article:published_time["'']', 1)
              END, '') AS published_time,
            CASE WHEN block IS NOT NULL AND json_valid(block)
                 THEN json_extract_string(block, '$$.headline') END AS ld_headline,
            CASE WHEN block IS NOT NULL AND json_valid(block)
                 THEN json_extract_string(block, '$$.datePublished') END AS ld_date_published
          FROM ld""",

    // newest-capture-per-url replay: the engine's WindowGroupLimit
    // rank-1 is a plain row_number window at oracle scale
    "url_latest_revision" ->
      """WITH snaps AS (
           SELECT 'http://host' || CAST((l_orderkey % 5000) % 50 AS STRING) ||
                  '.example.com/o/' || CAST(l_orderkey % 5000 AS STRING) AS url,
                  epoch_us(l_shipdate) // 86400000000 AS day,
                  CAST(l_quantity AS INT) AS sig,
                  l_orderkey AS okey, l_linenumber AS lnum
           FROM lineitem)
         SELECT url, day, sig, okey, lnum FROM (
           SELECT *, row_number() OVER (PARTITION BY url
                       ORDER BY day DESC, okey DESC, lnum DESC) AS rn
           FROM snaps) t WHERE rn = 1""",

    // identical md5-keyed bucket arithmetic: 60-bit hex prefix as an
    // integer ('0x' cast ≙ Spark conv(_,16,10)), mod 1000, range CASE
    "split_assign" ->
      """SELECT doc_id, bucket,
                CASE WHEN bucket < 980 THEN 'train'
                     WHEN bucket < 990 THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'), 1, 15))
                   AS BIGINT) % 1000 AS bucket
               FROM documents) t""",

    // label-bounded suffix matching replayed with list_slice over the
    // dot-split host, joined to the nation-derived + literal entries
    "host_blocklist" ->
      """WITH hostsq AS (
           SELECT host, CAST(count(*) AS BIGINT) AS n_urls FROM (
             SELECT CASE CAST(o_orderkey % 3 AS INT)
                      WHEN 0 THEN concat('www.host', CAST(o_orderkey % 40 AS STRING), '.example.com')
                      WHEN 1 THEN concat('host', CAST(o_orderkey % 40 AS STRING), '.example.com')
                      ELSE concat('cdn.img.host', CAST(o_orderkey % 40 AS STRING), '.example.net')
                    END AS host
             FROM orders) h GROUP BY host),
         bl AS (SELECT concat('host', CAST(n_nationkey AS STRING), '.example.com') AS entry
                FROM nation
                UNION ALL SELECT 'example.net'),
         sfx AS (SELECT host,
                        array_to_string(list_slice(parts, CAST(u.i AS INT), len(parts)), '.') AS s
                 FROM (SELECT host, string_split(host, '.') AS parts FROM hostsq) p,
                      unnest(generate_series(1, len(parts))) AS u(i)),
         blocked AS (SELECT DISTINCT s2.host FROM sfx s2 JOIN bl ON s2.s = bl.entry)
         SELECT h.host, h.n_urls, (b.host IS NOT NULL) AS is_blocked
         FROM hostsq h LEFT JOIN blocked b ON b.host = h.host""",

    // replays the synthetic link feed + LinkGraph.anchorSummary: ws
    // normalization, per-dst link/host/anchor counts, top-1 anchor by
    // (count desc, anchor asc)
    "anchor_texts" ->
      s"""WITH urls AS (${urlsCte("orders")}),
          e AS ($enrichedOracle),
          links AS (
            SELECT host AS src_host,
                   concat('http://t', CAST(seq % 40 AS STRING), '.example.com/p/',
                          CAST(seq % 200 AS STRING)) AS dst,
                   (['click here', '  Read   More ',
                     'Page ' || CAST(seq % 7 AS STRING)])[CAST(seq % 3 AS INT) + 1] AS anchor
            FROM e
            UNION ALL
            SELECT host,
                   concat('http://t', CAST(seq % 40 AS STRING), '.example.com/p/',
                          CAST((seq * 7) % 200 AS STRING)),
                   CASE WHEN seq % 9 = 0 THEN '' ELSE 'hub' END
            FROM e WHERE seq % 3 = 0),
          norm AS (SELECT src_host, dst,
                          trim(regexp_replace(anchor, '\\s+', ' ', 'g')) AS anchor
                   FROM links),
          per_dst AS (
            SELECT dst, count(*) AS n_links,
                   count(DISTINCT src_host) AS n_src_hosts,
                   count(DISTINCT CASE WHEN anchor <> '' THEN anchor END) AS n_anchors
            FROM norm GROUP BY dst),
          ac AS (SELECT dst, anchor, count(*) AS n FROM norm
                 WHERE anchor <> '' GROUP BY dst, anchor),
          top AS (SELECT dst, anchor AS top_anchor, n AS top_anchor_n FROM (
                    SELECT dst, anchor, n,
                           row_number() OVER (PARTITION BY dst
                             ORDER BY n DESC, anchor ASC) AS rk
                    FROM ac) t WHERE rk = 1)
          SELECT p.dst, p.n_links, p.n_src_hosts, p.n_anchors,
                 t.top_anchor, coalesce(t.top_anchor_n, 0) AS top_anchor_n
          FROM per_dst p LEFT JOIN top t USING (dst)""",

    // integer BM25 replay (same fixed-point formula as Search.bm25TopK;
    // `//` ≙ Spark `div` on these non-negative operands; CASTs keep
    // DuckDB's HUGEINT sums out of the driver's pandas compare)
    "search_bm25" ->
      s"""WITH docs AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                               w -> len(w) > 0) AS toks
            FROM documents),
          lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS doclen FROM docs),
          stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(doclen) AS BIGINT) AS tot FROM lens),
          qt AS (SELECT * FROM (VALUES $bm25QueryValues) AS t(query_id, token)),
          tok AS (SELECT doc_id, unnest(toks) AS token FROM docs),
          tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok
                 WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2),
          dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
          scored AS (
            SELECT q.query_id, t.doc_id, t.tf,
                   ((s.n - d.df + 1) * 10000) // (d.df + 1) AS idf,
                   (l.doclen * 1000000) // ((s.tot * 1000) // s.n) AS lenratio
            FROM tf t JOIN dfq d USING (token) JOIN qt q USING (token)
            JOIN lens l USING (doc_id) CROSS JOIN stats s),
          contribs AS (
            SELECT query_id, doc_id,
                   (idf * ((tf * 2200 * 1000) //
                           (tf * 1000 + (1200 * (1000 - 750 + (750 * lenratio) // 1000)) // 1000))) // 1000 AS contrib
            FROM scored),
          agg AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS score
                  FROM contribs GROUP BY 1, 2)
          SELECT query_id, doc_id, score, rank FROM (
            SELECT query_id, doc_id, score,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, doc_id) AS BIGINT) AS rank
            FROM agg)
          WHERE rank <= 10""",

    "events_window_agg" ->
      """SELECT CAST((epoch_us(ts) // 3600000000) * 3600000000 AS BIGINT) AS window_start_us,
                event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)), 0) AS BIGINT) AS value_cents
         FROM events
         WHERE ts IS NOT NULL AND event_type IS NOT NULL
         GROUP BY 1, 2""",

    "events_props_agg" ->
      """SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_field,
                CAST(coalesce(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)), 0) AS BIGINT) AS field_sum,
                CAST(coalesce(max(CAST(json_extract_string(props, '$.k') AS BIGINT)), 0) AS BIGINT) AS field_max
         FROM events
         WHERE event_type IS NOT NULL
         GROUP BY 1""",

    // lag/cumsum replay of session_window's merge rule: consecutive
    // events merge while gap <= 24h (inclusive boundary, pinned by
    // SessionsSpec; 24h makes sf0.01 sessions ~8 events, not singletons);
    // session identity = min event time in micros
    // replays Events.retention at daily periods: distinct (user, day),
    // min day per user, count per (cohort, offset)
    "events_retention" ->
      """WITH per AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS p
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT user_id, min(p) AS cohort FROM per GROUP BY 1)
         SELECT c.cohort AS cohort_period, per.p - c.cohort AS k,
                count(*) AS n_users
         FROM per JOIN c USING (user_id)
         GROUP BY 1, 2""",

    // replays Events.funnel: a min-aggregate CTE per step, each joining
    // the previous step's time with a strict > condition
    "events_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL
                      AND event_type IS NOT NULL),
         s1 AS (SELECT user_id, min(ts) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT s1.user_id, s1.t1, min(c.ts) AS t2
                FROM s1 LEFT JOIN e c ON c.user_id = s1.user_id
                     AND c.event_type = 'click' AND c.ts > s1.t1
                GROUP BY 1, 2),
         s3 AS (SELECT s2.user_id, s2.t1, s2.t2, min(c.ts) AS t3
                FROM s2 LEFT JOIN e c ON c.user_id = s2.user_id
                     AND c.event_type = 'purchase' AND c.ts > s2.t2
                GROUP BY 1, 2, 3)
         SELECT user_id, t1, t2, t3,
                CAST(CASE WHEN t3 IS NOT NULL THEN 3
                          WHEN t2 IS NOT NULL THEN 2
                          ELSE 1 END AS BIGINT) AS depth
         FROM s3""",

    "events_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         flagged AS (
           SELECT user_id, event_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 86400000000
                       THEN 1 ELSE 0 END AS is_new
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged)
         SELECT user_id,
                CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(min(event_id) AS BIGINT) AS first_event_id,
                CAST(max(event_id) AS BIGINT) AS last_event_id,
                CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS span_us
         FROM sess GROUP BY user_id, sid""",

    // nfc_normalize replays UAX #15 composition; chr(769)/chr(778) are
    // the decomposed combining acute/ring the Spark side appends
    "text_normalize" ->
      """SELECT doc_id,
           md5(nfc_normalize(coalesce(text, '') || ' cafe' || chr(769) || ' A' || chr(778))) AS norm_md5
         FROM documents""",

    "index_postings" ->
      """WITH tok AS (
           SELECT DISTINCT doc_id,
                  unnest(list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                         w -> len(w) > 0)) AS token
           FROM documents),
         dfq AS (SELECT token, count(*) AS doc_freq FROM tok GROUP BY token)
         SELECT t.token, f.doc_freq,
                md5(string_agg(CAST(t.doc_id AS VARCHAR), ',' ORDER BY t.doc_id)) AS postings_md5
         FROM tok t JOIN dfq f USING (token)
         WHERE f.doc_freq <= 32
         GROUP BY t.token, f.doc_freq
         UNION ALL
         SELECT token, doc_freq, '' AS postings_md5
         FROM dfq WHERE doc_freq > 32""",

    "canon_strip_fragment" -> oracle(
      "SELECT lower(regexp_replace(url, '#.*$', '')) AS url_nofrag, seq FROM urls"),

    "host_extract" -> oracle(
      "SELECT lower(regexp_extract(url, '^http://([^/#]+)', 1)) AS host, seq FROM urls"),

    // replays the PSL algorithm: dot-suffixes × rules join, exceptions
    // prevail (min plen), else the longest exact/wildcard match, else
    // the default 1-label rule; registrable = public suffix + 1 label
    "registered_domain" ->
      s"""WITH hosts AS (${pslHostsCte("orders")}),
         rules(sfx, plen, kind) AS (VALUES $pslRulesValues),
         lab AS (SELECT host, seq, string_split(host, '.') AS ls FROM hosts),
         suf AS (SELECT host, seq, len(ls) AS k,
                        array_to_string(ls[u.i:len(ls)], '.') AS s
                 FROM lab, unnest(generate_series(1, len(ls))) AS u(i)),
         agg AS (SELECT host, seq, any_value(k) AS k,
                        min(CASE WHEN r.kind = 'x' THEN r.plen END) AS excp,
                        max(CASE WHEN r.kind = 'e'
                                   OR (r.kind = 'w' AND r.plen <= suf.k)
                                 THEN r.plen END) AS candp
                 FROM suf LEFT JOIN rules r ON r.sfx = suf.s
                 GROUP BY host, seq),
         fin AS (SELECT host, seq, k,
                        coalesce(excp, greatest(coalesce(candp, 1), 1)) AS p
                 FROM agg)
         SELECT host, seq,
                CASE WHEN k > p THEN
                  array_to_string(string_split(host, '.')[k - p : k], '.')
                END AS registered_domain,
                array_to_string(
                  string_split(host, '.')[k - least(p, k) + 1 : k], '.')
                  AS public_suffix
         FROM fin""",

    "dedup_anti" -> oracle(
      s"""SELECT url_canon, min(seq) AS seq FROM ($enrichedOracle) e GROUP BY url_canon"""),

    "dedup_anti_cuckoo" -> oracle(
      s"""SELECT url_canon, seq FROM ($enrichedOracle) e
          WHERE seq % 2 = 0
            AND url_canon NOT IN (
              SELECT url_canon FROM ($enrichedOracle) s
              WHERE (seq % 5000) % 3 = 0)"""),

    "politeness_topk" -> oracle(
      s"""SELECT host, priority, seq, url_canon FROM (
            SELECT host, priority, seq, url_canon,
                   row_number() OVER (PARTITION BY host ORDER BY priority, seq) AS rn
            FROM ($enrichedOracle) e) t
          WHERE rn <= 3"""),

    "politeness_topk_salted" -> oracle(
      s"""SELECT host, priority, seq, url_canon FROM (
            SELECT host, priority, seq, url_canon,
                   row_number() OVER (PARTITION BY host ORDER BY priority, seq) AS rn
            FROM ($enrichedOracle) e) t
          WHERE rn <= 3"""),

    "politeness_topk_adaptive" -> oracle(
      s"""SELECT host, priority, seq, url_canon FROM (
            SELECT host, priority, seq, url_canon,
                   row_number() OVER (PARTITION BY host ORDER BY priority, seq) AS rn
            FROM ($enrichedOracle) e) t
          WHERE rn <= 3"""),

    "throttle_decay" -> oracle(
      s"""SELECT host,
            CAST(greatest(1, least(100, coalesce(min(CASE WHEN errors > 0 THEN coalesce(prev_fetched, 1) END), 100))) AS INT) AS host_budget
          FROM (
            SELECT host, wave, errors,
                   lag(fetched) OVER (PARTITION BY host ORDER BY wave) AS prev_fetched
            FROM (
              SELECT CAST(seq % 5 AS INT) AS wave, host,
                     count(*) AS fetched,
                     sum(CASE WHEN seq % 11 = 0 THEN 1 ELSE 0 END) AS errors
              FROM ($enrichedOracle) e GROUP BY 1, 2) m) t
          GROUP BY host"""),

    "budget_limit" -> oracle(
      "SELECT url, priority, seq FROM urls ORDER BY priority, seq LIMIT 100"),

    "parser_dispatch" -> oracle(
      """SELECT url, seq,
           CASE WHEN regexp_matches(url, '/o/[0-9]*[02468]$', 'i') THEN 'extract'
                WHEN regexp_matches(url, '^http://host1', 'i') THEN 'links'
                WHEN regexp_matches(url, 'host', 'i') THEN 'leaf'
                ELSE NULL END AS parser_id
         FROM urls"""),

    "priority_clamp" -> oracle(
      "SELECT seq, CAST(least(greatest(priority * 7 - 3, 0), 2) AS INT) AS pclamp FROM urls"),

    "frontier_union_dedup" -> oracle(
      s"""SELECT url_canon, min(seq) AS seq FROM (
            SELECT * FROM ($enrichedOracle) e WHERE seq % 2 = 0
            UNION ALL
            SELECT * FROM ($enrichedOracle) e2 WHERE seq % 3 = 0) u
          GROUP BY url_canon"""),

    "wave_counts" -> oracle(
      s"""SELECT host, count(*) AS n, min(seq) AS min_seq, max(seq) AS max_seq,
                 CAST(sum(priority) AS BIGINT) AS sum_priority
          FROM ($enrichedOracle) e GROUP BY host"""),

    "skew_salt" -> oracle(
      s"""SELECT host, CAST(seq % 8 AS INT) AS salt, count(*) AS n
          FROM ($enrichedOracle) e GROUP BY host, CAST(seq % 8 AS INT)"""),

    // regenerates the fixture WARC's response rows purely from range():
    // same url/date/status/body construction as Fixtures.warcFile
    "warc_parse" ->
      """SELECT concat('http://host', CAST(seq % 20 AS STRING), '.example.com/w/',
                       CAST(seq AS STRING)) AS url,
                concat('2024-03-', lpad(CAST(1 + seq % 28 AS STRING), 2, '0'), 'T',
                       lpad(CAST(seq % 24 AS STRING), 2, '0'), ':05:00Z') AS warc_date,
                CAST(CASE WHEN seq % 13 = 0 THEN 404 ELSE 200 END AS BIGINT) AS http_status,
                'text/html; charset=UTF-8' AS mime,
                CAST(length(body) AS BIGINT) AS n_bytes,
                md5(body) AS body_md5
         FROM (SELECT seq, repeat('Body ' || CAST(seq AS STRING) || '. ',
                                  CAST(1 + seq % 5 AS INT)) AS body
               FROM range(200) t(seq)) b""",

    "robots_filter" -> oracle(
      s"""SELECT url_canon, host, seq FROM (
            SELECT url_canon, host, seq,
                   regexp_replace(url_canon, '^http://[^/]*', '') AS path
            FROM ($enrichedOracle) e) t
          WHERE NOT (host = 'host0.example.com' AND path LIKE '/o/1%')
            AND NOT (host = 'host3.example.com' AND path LIKE '/o/%')"""),

    // the caps replay the crawl-delay arithmetic: floor(60/delay) in [1,8]
    "robots_crawl_delay" -> oracle(
      s"""SELECT host, priority, seq, url_canon FROM (
            SELECT host, priority, seq, url_canon,
                   row_number() OVER (PARTITION BY host
                                      ORDER BY priority, seq) AS rn
            FROM ($enrichedOracle) e) t
          WHERE rn <= CASE host
                        WHEN 'host1.example.com' THEN 2
                        WHEN 'host2.example.com' THEN 6
                        WHEN 'host5.example.com' THEN 8
                        WHEN 'host6.example.com' THEN 1
                        ELSE 3 END"""),

    // RFC verdicts replayed as per-host path conditions (paths here are
    // always /o/<k>, so prefix matches collapse to LIKE on url_canon):
    // host0 keeps only the /o/1 allow-carve-out, host3's tie resolves
    // allow so only /o/3* survives its Disallow-/ floor, host7 drops
    // exactly the /o/7 subtree, every other host is rule-free
    "robots_filter_rfc" -> oracle(
      s"""SELECT url_canon, host, seq FROM ($enrichedOracle) e
          WHERE CASE host
            WHEN 'host0.example.com' THEN url_canon LIKE 'http://host0.example.com/o/1%'
            WHEN 'host3.example.com' THEN url_canon LIKE 'http://host3.example.com/o/3%'
            WHEN 'host7.example.com' THEN url_canon NOT LIKE 'http://host7.example.com/o/7%'
            ELSE TRUE END"""),

    // wildcard verdicts replayed as per-host path conditions (the spec's
    // 400-pair regex fuzz carries the general-matcher burden)
    "robots_filter_wildcard" -> oracle(
      s"""SELECT url_canon, host, seq FROM ($enrichedOracle) e
          WHERE CASE host
            WHEN 'host2.example.com' THEN url_canon NOT LIKE '%7'
            WHEN 'host5.example.com' THEN url_canon LIKE '%5'
            WHEN 'host9.example.com' THEN
              regexp_extract(url_canon, '/o/(.*)$$', 1) NOT LIKE '%1%'
            ELSE TRUE END"""),

    "sitemap_index_parse" -> oracle(
      s"""SELECT host, seq,
                 trim(regexp_extract(entry, '<loc>([^<]*)</loc>', 1)) AS loc,
                 nullif(coalesce(regexp_extract(entry, '<lastmod>([^<]*)</lastmod>', 1), ''), '') AS lastmod
          FROM (
            SELECT host, seq,
                   unnest(regexp_extract_all(body, '(?s)<sitemap>(.*?)</sitemap>', 1)) AS entry
            FROM (
              SELECT host, seq,
                     '<sitemapindex><sitemap><loc>' || url_canon ||
                     '/s1.xml</loc><lastmod>2023-0' || CAST(1 + seq % 9 AS STRING) ||
                     '-01</lastmod></sitemap><sitemap>' || chr(10) || ' <loc> ' || url_canon ||
                     '/s2.xml </loc>' || chr(10) ||
                     '</sitemap><sitemap><lastmod>2020-01-01</lastmod></sitemap></sitemapindex>'
                       AS body
              FROM ($enrichedOracle) e) sm) entries
          WHERE length(trim(regexp_extract(entry, '<loc>([^<]*)</loc>', 1))) > 0"""),

    // replays sitemapRecrawl: lastmod parsed via the timestamp cast,
    // left join against the even-seq capture record, strict > staleness
    "sitemap_recrawl" ->
      s"""WITH urls AS (${urlsCte("orders")}),
         base AS (SELECT url_canon, min(seq) AS seq
                  FROM ($enrichedOracle) GROUP BY url_canon),
         parsed AS (
           SELECT url_canon AS loc,
                  epoch_us(CAST(concat('202', CAST(seq % 5 AS STRING), '-0',
                           CAST(1 + seq % 9 AS STRING), '-15') AS TIMESTAMP))
                    AS lastmod_us
           FROM base),
         caps AS (SELECT url_canon AS loc,
                         1640995200000000 + seq * 1000000 AS f
                  FROM base WHERE seq % 2 = 0)
         SELECT p.loc,
                CASE WHEN c.f IS NULL THEN 'new' ELSE 'stale' END AS reason,
                p.lastmod_us
         FROM parsed p LEFT JOIN caps c USING (loc)
         WHERE c.f IS NULL OR p.lastmod_us > c.f""",

    "sitemap_parse" -> oracle(
      s"""SELECT host, seq,
                 trim(regexp_extract(entry, '<loc>([^<]*)</loc>', 1)) AS loc,
                 nullif(coalesce(regexp_extract(entry, '<lastmod>([^<]*)</lastmod>', 1), ''), '') AS lastmod,
                 CAST(nullif(coalesce(regexp_extract(entry, '<priority>([^<]*)</priority>', 1), ''), '') AS DOUBLE) AS sm_priority
          FROM (
            SELECT host, seq,
                   unnest(regexp_extract_all(body, '(?s)<url>(.*?)</url>', 1)) AS entry
            FROM (
              SELECT host, seq,
                     '<urlset><url><loc>' || url_canon ||
                     '</loc><lastmod>202' || CAST(seq % 5 AS STRING) ||
                     '-0' || CAST(1 + seq % 9 AS STRING) ||
                     '-15</lastmod><priority>0.' || CAST(seq % 10 AS STRING) ||
                     '</priority></url><url>' || chr(10) || '  <loc>' || url_canon ||
                     '/alt</loc>' || chr(10) || '</url><url><lastmod>2020-01-01</lastmod></url></urlset>'
                       AS body
              FROM ($enrichedOracle) e) sm) entries
          WHERE length(trim(regexp_extract(entry, '<loc>([^<]*)</loc>', 1))) > 0"""),

    // the trap rules replayed on RE2+list lambdas (no backreferences by
    // design — see Traps scaladoc); thresholds 5/2/6 mirror the defaults
    "url_trap_detect" ->
      s"""WITH urls AS (${trapUrlsCte("orders")})
          SELECT url, seq, depth, seg_repeat, n_params,
                 CAST(CASE WHEN depth > 5 OR seg_repeat > 2 OR n_params > 6
                      THEN 1 ELSE 0 END AS INT) AS is_trap
          FROM (
            SELECT url, seq,
                   CAST(len(segs) AS INT) AS depth,
                   CAST(coalesce(list_aggregate(list_transform(segs,
                          x -> len(list_filter(segs, y -> y = x))), 'max'), 0) AS INT) AS seg_repeat,
                   CAST(CASE WHEN q = '' THEN 0
                        ELSE len(string_split(q, '&')) END AS INT) AS n_params
            FROM (
              SELECT url, seq,
                     list_filter(string_split(
                       regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)', 1),
                       '/'), s -> s <> '') AS segs,
                     regexp_extract(url, '[?]([^#]*)', 1) AS q
              FROM urls) a) b""",

    // lag/groupBy replay of the change-rate estimate + per-host top-3;
    // all-integer arithmetic (epoch days, milli-rate floor division)
    "recrawl_schedule" ->
      """WITH snaps AS (
           SELECT 'http://host' || CAST((l_orderkey % 5000) % 50 AS STRING) ||
                  '.example.com/o/' || CAST(l_orderkey % 5000 AS STRING) AS url,
                  epoch_us(l_shipdate) // 86400000000 AS day,
                  CAST(l_quantity AS INT) AS sig,
                  l_orderkey AS okey, l_linenumber AS lnum
           FROM lineitem),
         flagged AS (
           SELECT url, day,
                  CASE WHEN lag(sig) OVER w IS NOT NULL AND lag(sig) OVER w <> sig
                       THEN 1 ELSE 0 END AS chg
           FROM snaps WINDOW w AS (PARTITION BY url ORDER BY day, okey, lnum)),
         rated AS (
           SELECT url, CAST(count(*) AS BIGINT) AS n_obs,
                  CAST(sum(chg) AS BIGINT) AS changes,
                  CAST(max(day) - min(day) AS BIGINT) AS span_days
           FROM flagged GROUP BY url),
         rates AS (
           SELECT regexp_extract(url, '^http://([^/]+)', 1) AS host,
                  url, n_obs, changes, span_days,
                  CAST(CASE WHEN span_days > 0 THEN (changes * 1000) // span_days
                       ELSE 0 END AS BIGINT) AS rate_milli
           FROM rated)
         SELECT host, url, n_obs, changes, span_days, rate_milli FROM (
           SELECT *, row_number() OVER (PARTITION BY host
                        ORDER BY rate_milli DESC, url) AS rn
           FROM rates) t WHERE rn <= 3""",

    "counters_uniq_overwrite" -> oracle(
      s"""SELECT host,
            array_to_string(list_sort(list(DISTINCT priority)), ',') AS uniq_priorities,
            arg_max(priority, seq) AS last_priority
          FROM ($enrichedOracle) e GROUP BY host"""),

    "title_date_parse" -> oracle(
      """SELECT seq,
                regexp_extract(title, '^(.*) - Wikipedia$', 1) AS page_title,
                strftime(strptime(edited, '%H:%M, %d %B %Y'), '%Y-%m-%d %H:%M') AS edit_ts
         FROM (SELECT seq,
                      concat('Page ', CAST(seq AS STRING), ' - Wikipedia') AS title,
                      concat(lpad(CAST(seq % 24 AS STRING), 2, '0'), ':',
                             lpad(CAST(seq % 60 AS STRING), 2, '0'), ', ',
                             lpad(CAST(1 + seq % 28 AS STRING), 2, '0'), ' March ',
                             CAST(2020 + seq % 5 AS STRING)) AS edited
               FROM urls) t"""),

    // zh branch: same footer construction, reference regex + make_timestamp
    // replay (regexp groups are 1-2 digit — non-padded like the source)
    "title_date_parse_zh" -> oracle(
      """SELECT seq,
                strftime(make_timestamp(
                  CAST(regexp_extract(zh_edited, '^(\d{4})年', 1) AS INT),
                  CAST(regexp_extract(zh_edited, '年(\d{1,2})月', 1) AS INT),
                  CAST(regexp_extract(zh_edited, '月(\d{1,2})日', 1) AS INT),
                  CAST(regexp_extract(zh_edited, ' (\d{1,2}):', 1) AS INT),
                  CAST(regexp_extract(zh_edited, ':(\d{1,2})$', 1) AS INT), 0.0),
                '%Y-%m-%d %H:%M') AS edit_ts_zh
         FROM (SELECT seq,
                      regexp_extract(footer,
                        '\d{4}年\d{1,2}月\d{1,2}日 \(.+\) \d{1,2}:\d{1,2}',
                        0) AS zh_edited
               FROM (SELECT seq,
                            concat('本页面最后修订于',
                                   CAST(2020 + seq % 5 AS STRING), '年',
                                   CAST(1 + seq % 12 AS STRING), '月',
                                   CAST(1 + seq % 28 AS STRING), '日 (星期',
                                   ['日','一','二','三','四','五','六'][CAST(1 + seq % 7 AS INT)],
                                   ') ', CAST(seq % 24 AS STRING), ':',
                                   lpad(CAST(seq % 60 AS STRING), 2, '0'), '。') AS footer
                     FROM urls) f) t"""),

    "text_token_counts" ->
      s"""SELECT doc_id,
            CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
            CAST(len(regexp_extract_all(text, '$BpeishRe2')) AS BIGINT) AS n_bpeish
          FROM documents""",

    "text_lang_id" -> langPredSql("documents"),

    "text_quality" -> qualitySql("documents"),

    // replays c4CleanText + c4PageKeep over the same line-structuring
    // replace transform the Spark query applies
    "text_c4_clean" ->
      """WITH nl AS (
           SELECT doc_id,
                  replace(replace(coalesce(text, ''), ' value ', '.' || chr(10)),
                          ' table ', '!' || chr(10)) AS t
           FROM documents),
         c AS (
           SELECT doc_id, t,
             array_to_string(list_filter(string_split(t, chr(10)),
               l -> regexp_matches(trim(l), '[.!?"]$')
                 AND len(list_filter(string_split_regex(trim(l), '\s+'),
                         w -> len(w) > 0)) >= 3
                 AND NOT contains(lower(trim(l)), 'javascript')),
               chr(10)) AS text_c4
           FROM nl)
         SELECT doc_id, text_c4
         FROM c
         WHERE len(regexp_extract_all(text_c4, '[.!?]')) >= 5
           AND NOT contains(lower(t), 'lorem ipsum')
           AND NOT contains(lower(t), '{')""",

    // replays gopherSignals/gopherKeep with the {the, a} stop set
    "text_gopher_quality" ->
      """WITH w AS (
           SELECT doc_id, coalesce(text, '') AS t,
             list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                         x -> len(x) > 0) AS words,
             list_filter(string_split(coalesce(text, ''), chr(10)),
                         l -> len(trim(l)) > 0) AS lines
           FROM documents),
         s AS (
           SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CASE WHEN len(words) > 0 THEN
               CAST(1000 * CAST(list_sum(list_transform(words, x -> len(x))) AS BIGINT)
                    // len(words) AS BIGINT) ELSE 0 END AS mean_word_len_milli,
             CASE WHEN len(words) > 0 THEN
               CAST(1000 * len(regexp_extract_all(t, '#')) // len(words) AS BIGINT)
               ELSE 0 END AS hash_per_mille,
             CASE WHEN len(words) > 0 THEN
               CAST(1000 * len(regexp_extract_all(t, '\.\.\.|…')) // len(words) AS BIGINT)
               ELSE 0 END AS ellipsis_per_mille,
             CASE WHEN len(lines) > 0 THEN
               CAST(1000 * len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))
                    // len(lines) AS BIGINT) ELSE 0 END AS bullet_line_per_mille,
             CASE WHEN len(lines) > 0 THEN
               CAST(1000 * len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)$')))
                    // len(lines) AS BIGINT) ELSE 0 END AS ellipsis_line_per_mille,
             CASE WHEN len(words) > 0 THEN
               CAST(1000 * len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                    // len(words) AS BIGINT) ELSE 0 END AS alpha_word_per_mille,
             CAST(CAST(regexp_matches(t, '(?i)\bthe\b') AS INT)
                + CAST(regexp_matches(t, '(?i)\ba\b') AS INT) AS BIGINT) AS stop_hits
           FROM w)
         SELECT *,
           (n_words BETWEEN 50 AND 100000)
           AND (mean_word_len_milli BETWEEN 3000 AND 10000)
           AND hash_per_mille <= 100 AND ellipsis_per_mille <= 100
           AND bullet_line_per_mille <= 900 AND ellipsis_line_per_mille <= 300
           AND alpha_word_per_mille >= 800 AND stop_hits >= 2 AS keep
         FROM s""",

    // replays TextStats.repetition: duplicate-line / dup-line-chars /
    // top-word / top-bigram fractions, integer per-mille
    "text_repetition" ->
      """WITH seeded AS (
           SELECT doc_id, concat(text, CASE WHEN doc_id % 3 = 0
             THEN chr(10) || 'subscribe to our newsletter' || chr(10) || 'subscribe to our newsletter'
             ELSE '' END) AS t2 FROM documents),
         lines AS (SELECT doc_id, trim(l) AS line FROM
                     (SELECT doc_id, unnest(string_split(t2, chr(10))) AS l FROM seeded) t
                   WHERE length(trim(l)) > 0),
         lc AS (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY 1, 2),
         la AS (SELECT doc_id, count(*) AS uniq, sum(c) AS n_lines,
                       sum(c * length(line)) AS line_chars,
                       sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dup_chars
                FROM lc GROUP BY 1),
         words AS (SELECT doc_id, w FROM
                     (SELECT doc_id, unnest(string_split_regex(trim(t2), '\s+')) AS w FROM seeded) t
                   WHERE length(w) > 0),
         wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2),
         wa AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_w FROM wc GROUP BY 1),
         bgs AS (SELECT doc_id,
                   unnest([array_to_string(w[i:i+1], ' ') FOR i IN generate_series(1, len(w)-1)]) AS bg
                 FROM (SELECT doc_id, string_split_regex(trim(t2), '\s+') AS w FROM seeded) ws
                 WHERE len(w) >= 2),
         bc AS (SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY 1, 2),
         ba AS (SELECT doc_id, sum(c) AS n_bg, max(c) AS top_bg FROM bc GROUP BY 1)
         SELECT d.doc_id,
           CASE WHEN COALESCE(n_lines, 0) > 0
                THEN CAST(floor(1000.0 * (n_lines - uniq) / n_lines) AS BIGINT) ELSE 0 END AS dup_line_frac_milli,
           CASE WHEN COALESCE(line_chars, 0) > 0
                THEN CAST(floor(1000.0 * dup_chars / line_chars) AS BIGINT) ELSE 0 END AS dup_line_char_frac_milli,
           CASE WHEN COALESCE(n_words, 0) > 0
                THEN CAST(floor(1000.0 * top_w / n_words) AS BIGINT) ELSE 0 END AS top_word_frac_milli,
           CASE WHEN COALESCE(n_bg, 0) > 0
                THEN CAST(floor(1000.0 * top_bg / n_bg) AS BIGINT) ELSE 0 END AS top_bigram_frac_milli
         FROM (SELECT doc_id FROM documents) d
         LEFT JOIN la USING (doc_id) LEFT JOIN wa USING (doc_id) LEFT JOIN ba USING (doc_id)""",

    // identical regexes (the java.regex ∩ RE2 agreement subset); DuckDB
    // regexp_replace needs the 'g' flag to match Spark's replace-all
    "text_pii" ->
      s"""WITH seeded AS (
            SELECT doc_id, concat(text, CASE WHEN doc_id % 3 = 0
              THEN concat(' contact user', CAST(doc_id AS VARCHAR),
                          '@example.com via 10.1.', CAST(doc_id % 256 AS VARCHAR), '.7')
              ELSE '' END) AS t2 FROM documents)
          SELECT doc_id,
            CAST(len(regexp_extract_all(t2, '$EmailRe')) AS BIGINT) AS n_emails,
            CAST(len(regexp_extract_all(t2, '$Ipv4Re')) AS BIGINT) AS n_ipv4,
            md5(regexp_replace(regexp_replace(t2, '$EmailRe', '<EMAIL>', 'g'),
                               '$Ipv4Re', '<IP>', 'g')) AS redacted_md5
          FROM seeded""",

    "dedup_exact_text" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
         FROM (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 1000000, text FROM documents) p
         GROUP BY text""",

    // replays repeated-span removal end to end: same tokenization, same
    // 8-gram windows WITH positions, repeated grams (count > 1), token
    // coverage, and the kept-token rebuild hashed with md5
    "dedup_repeated_spans" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                              w -> len(w) > 0) AS t
           FROM documents),
         g AS (
           SELECT doc_id, u.i - 1 AS pos, array_to_string(t[u.i:u.i+7], ' ') AS gram
           FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
           WHERE len(t) >= 8),
         rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
         removed AS (
           SELECT DISTINCT doc_id, pos + dd.d AS j
           FROM (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM rep)) s,
                unnest(generate_series(0, 7)) AS dd(d)),
         agg AS (
           SELECT doc_id, CAST(count(*) AS INT) AS n_removed, list(j) AS rm
           FROM removed GROUP BY doc_id)
         SELECT toks.doc_id, CAST(len(t) AS INT) AS n_tokens,
           coalesce(agg.n_removed, 0) AS n_removed,
           md5(coalesce(array_to_string(
             [t[x + 1] FOR x IN generate_series(0, len(t) - 1)
              IF NOT list_contains(coalesce(rm, []), x)], ' '), '')) AS clean_md5
         FROM toks LEFT JOIN agg USING (doc_id)""",

    // replays paragraph dedup end to end: same grouped+planted docs,
    // same normalized key, global first occurrence by (doc_id, pos)
    // via row_number, and the kept-segment rebuild hashed with md5
    "dedup_paragraphs" ->
      """WITH bp AS (SELECT text AS b FROM documents WHERE doc_id = 0),
         g AS (
           SELECT CAST(floor(doc_id / 5) AS BIGINT) AS doc_id,
                  string_agg(text, chr(10) ORDER BY doc_id)
                    || chr(10) || (SELECT b FROM bp) AS text
           FROM documents GROUP BY 1),
         p AS (
           SELECT doc_id, u.i - 1 AS pos,
                  lower(trim(regexp_replace(l[u.i], '\s+', ' ', 'g'))) AS key
           FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS l FROM g) t,
                unnest(generate_series(1, len(l))) AS u(i)),
         rm AS (
           SELECT doc_id, pos FROM (
             SELECT doc_id, pos,
                    row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
             FROM p WHERE len(key) > 0)
           WHERE rn > 1),
         agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_removed, list(pos) AS rmp
                 FROM rm GROUP BY doc_id)
         SELECT t.doc_id,
           CAST(len(list_filter(l,
             x -> len(lower(trim(regexp_replace(x, '\s+', ' ', 'g')))) > 0)) AS INT) AS n_paras,
           coalesce(agg.n_removed, 0) AS n_removed,
           md5(coalesce(array_to_string(
             [l[i + 1] FOR i IN generate_series(0, len(l) - 1)
              IF NOT list_contains(coalesce(rmp, []), i)], chr(10)), '')) AS clean_md5
         FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS l FROM g) t
         LEFT JOIN agg USING (doc_id)""",

    // replays hostBoilerplate over the injected-line corpus: per-source
    // distinct-doc df, >= 3 gate, cut everywhere, same rebuild digest
    "host_boilerplate" ->
      """WITH g AS (
           SELECT doc_id, source,
                  'Nav Menu ' || source || chr(10) || text ||
                  CASE WHEN doc_id % 97 = 0 THEN chr(10) || 'Promo Banner' ELSE '' END ||
                  chr(10) || 'Copyright ' || source AS text
           FROM documents),
         p AS (
           SELECT source, doc_id, u.i - 1 AS pos,
                  lower(trim(regexp_replace(l[u.i], '\s+', ' ', 'g'))) AS key
           FROM (SELECT source, doc_id, string_split(coalesce(text, ''), chr(10)) AS l FROM g) t,
                unnest(generate_series(1, len(l))) AS u(i)),
         hot AS (
           SELECT source, key FROM (
             SELECT source, key, count(DISTINCT doc_id) AS df
             FROM p WHERE len(key) > 0 GROUP BY source, key)
           WHERE df >= 3),
         rm AS (SELECT doc_id, pos FROM p JOIN hot USING (source, key)),
         agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_removed, list(pos) AS rmp
                 FROM rm GROUP BY doc_id)
         SELECT t.doc_id,
           CAST(len(list_filter(l,
             x -> len(lower(trim(regexp_replace(x, '\s+', ' ', 'g')))) > 0)) AS INT) AS n_paras,
           coalesce(agg.n_removed, 0) AS n_removed,
           md5(coalesce(array_to_string(
             [l[i + 1] FOR i IN generate_series(0, len(l) - 1)
              IF NOT list_contains(coalesce(rmp, []), i)], chr(10)), '')) AS clean_md5
         FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS l FROM g) t
         LEFT JOIN agg USING (doc_id)""",

    // replays the n-gram decontamination rule: same tokenization
    // (whitespace split of trimmed text), same varied-length bench
    // snippets, same 8-gram windows; n_hits counts matching POSITIONS
    "decontaminate" ->
      """WITH toks AS (
           SELECT doc_id,
                  string_split_regex(trim(coalesce(text, '')), '\s+') AS t
           FROM documents),
         bgrams AS (
           SELECT DISTINCT
             unnest([array_to_string(bt[i:i+7], ' ')
                     FOR i IN generate_series(1, len(bt) - 7)]) AS gram
           FROM (SELECT t[1:CAST(8 + doc_id % 7 AS BIGINT)] AS bt
                 FROM toks WHERE doc_id % 41 = 0)
           WHERE len(bt) >= 8),
         dgrams AS (
           SELECT doc_id,
             unnest([array_to_string(t[i:i+7], ' ')
                     FOR i IN generate_series(1, len(t) - 7)]) AS gram
           FROM toks WHERE len(t) >= 8)
         SELECT doc_id, count(*) AS n_hits
         FROM dgrams WHERE gram IN (SELECT gram FROM bgrams)
         GROUP BY doc_id""",

    // shipping stage: documents minus the flagged set (same gram CTEs)
    "decontaminate_ship" ->
      """WITH toks AS (
           SELECT doc_id,
                  string_split_regex(trim(coalesce(text, '')), '\s+') AS t
           FROM documents),
         bgrams AS (
           SELECT DISTINCT
             unnest([array_to_string(bt[i:i+7], ' ')
                     FOR i IN generate_series(1, len(bt) - 7)]) AS gram
           FROM (SELECT t[1:CAST(8 + doc_id % 7 AS BIGINT)] AS bt
                 FROM toks WHERE doc_id % 41 = 0)
           WHERE len(bt) >= 8),
         dgrams AS (
           SELECT doc_id,
             unnest([array_to_string(t[i:i+7], ' ')
                     FOR i IN generate_series(1, len(t) - 7)]) AS gram
           FROM toks WHERE len(t) >= 8),
         flagged AS (
           SELECT DISTINCT doc_id FROM dgrams
           WHERE gram IN (SELECT gram FROM bgrams))
         SELECT doc_id, lang, source FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM flagged)""",

    "dedup_minhash_lsh" -> jaccardOracle(800),

    "dedup_clusters" -> clustersOracle(800),
    "dedup_survivors" -> survivorsOracle(800),

    "dedup_ngram_jaccard" -> jaccardOracle(500),

    // the composed cleaning pipeline: planted exact copies collapse to
    // min-id reps, the recursive closure over the exact Jaccard-≥0.8
    // pair set drops non-representative near-dup members, then the
    // quality + language gates (each individually oracled) filter
    "corpus_clean" ->
      s"""WITH RECURSIVE planted AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 1000000, text FROM documents),
          exact AS (SELECT min(doc_id) AS doc_id FROM planted GROUP BY text),
          uniq AS (SELECT doc_id, text FROM planted
                   WHERE doc_id IN (SELECT doc_id FROM exact)),
          ${jaccardCtes(800, "uniq")},
          edges AS (SELECT a, b FROM jpairs UNION SELECT b, a FROM jpairs),
          reach(id, comp) AS (
            SELECT a AS id, a AS comp FROM edges
            UNION
            SELECT e.a AS id, r.comp FROM edges e JOIN reach r ON r.id = e.b),
          comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
          survivors AS (SELECT doc_id, text FROM uniq
                        WHERE doc_id NOT IN (SELECT id FROM comps WHERE comp <> id)),
          q AS (${qualitySql("survivors")}),
          l AS (${langPredSql("survivors")})
          SELECT s.doc_id, l.lang_pred, q.n_tokens
          FROM survivors s JOIN q USING (doc_id) JOIN l USING (doc_id)
          WHERE q.keep AND l.lang_pred <> 'und'""",

    // replays Corpus.unigramModel (even half) + lmScore: inverse relative
    // frequency per token, OOV ceiling, floor-mean per doc
    "lm_score" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(trim(text), '\s+'),
                         w -> len(w) > 0)) AS token
           FROM documents),
         model AS (SELECT token, count(*) AS cnt FROM tok
                   WHERE doc_id % 2 = 0 GROUP BY token),
         mass AS (SELECT CAST(1000 * sum(cnt) AS BIGINT) AS m FROM model),
         surp AS (
           SELECT t.doc_id,
                  least(coalesce(CAST((SELECT m FROM mass) // mo.cnt AS BIGINT),
                                 1000000), 1000000) AS surp
           FROM tok t LEFT JOIN model mo USING (token)),
         agg AS (SELECT doc_id, count(*) AS n_tokens,
                        CAST(sum(surp) // count(*) AS BIGINT) AS surprisal_milli
                 FROM surp GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                coalesce(a.surprisal_milli, 0) AS surprisal_milli,
                coalesce(a.surprisal_milli, 0) <= 60000 AS keep
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN agg a USING (doc_id)""",

    // replays the lm_score surprisal CTE, then the per-source tercile
    // assignment as a row_number window (the single-node mirror of the
    // distributed per-source prefix positions)
    "quality_buckets" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(trim(text), '\s+'),
                         w -> len(w) > 0)) AS token
           FROM documents),
         model AS (SELECT token, count(*) AS cnt FROM tok
                   WHERE doc_id % 2 = 0 GROUP BY token),
         mass AS (SELECT CAST(1000 * sum(cnt) AS BIGINT) AS m FROM model),
         surp AS (
           SELECT t.doc_id,
                  least(coalesce(CAST((SELECT m FROM mass) // mo.cnt AS BIGINT),
                                 1000000), 1000000) AS surp
           FROM tok t LEFT JOIN model mo USING (token)),
         agg AS (SELECT doc_id, CAST(sum(surp) // count(*) AS BIGINT) AS surprisal_milli
                 FROM surp GROUP BY doc_id),
         sc AS (SELECT d.doc_id, d.source,
                       coalesce(a.surprisal_milli, 0) AS surprisal_milli
                FROM documents d LEFT JOIN agg a USING (doc_id)),
         r AS (SELECT doc_id, source, surprisal_milli,
                      row_number() OVER (PARTITION BY source
                        ORDER BY surprisal_milli, doc_id) - 1 AS pos,
                      count(*) OVER (PARTITION BY source) AS n
               FROM sc)
         SELECT doc_id, source, surprisal_milli,
                CAST(pos * 3 // n AS BIGINT) AS bucket
         FROM r""",

    // replays Corpus.sourceProfile: token counts + quality keep per doc,
    // then per-source rollup and row_number top-1 language
    "source_profile" ->
      s"""WITH t AS (
            SELECT source, coalesce(lang, 'und') AS lang,
                   ${tokenCountSql("text")} AS n_toks,
                   length(text) AS chars,
                   len(regexp_extract_all(text, '[A-Z]')) AS upper
            FROM documents),
          k AS (
            SELECT source, lang, n_toks,
                   (n_toks >= 10 AND n_toks <= 100000
                    AND (CASE WHEN chars > 0
                         THEN CAST(floor(1000.0 * upper / chars) AS BIGINT)
                         ELSE 0 END) < 500
                    AND (CASE WHEN n_toks > 0
                         THEN CAST(floor(1000.0 * (chars - (n_toks - 1)) / n_toks) AS BIGINT)
                         ELSE 0 END) BETWEEN 1500 AND 20000) AS keep
            FROM t),
          per_source AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
                   count(DISTINCT lang) AS n_langs
            FROM k GROUP BY source),
          top AS (SELECT source, lang AS top_lang FROM (
                    SELECT source, lang,
                           row_number() OVER (PARTITION BY source
                             ORDER BY count(*) DESC, lang ASC) AS rk
                    FROM k GROUP BY source, lang) r WHERE rk = 1)
          SELECT p.source, p.n_docs, p.n_tokens, p.n_keep, p.n_langs,
                 t.top_lang, CAST(p.n_tokens // p.n_docs AS BIGINT) AS mean_tokens
          FROM per_source p JOIN top t USING (source)""",

    // keyed-md5 stratified sample: identical hash, identical order
    "sample_stratified" ->
      """SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':', lang)), doc_id) AS rn
           FROM documents) t
         WHERE rn <= 20""",

    // per-source exclusive-prefix fill in keyed-md5 order; the per-source
    // window cumsum the engine avoids at scale is right for the oracle
    "corpus_mix" ->
      s"""SELECT doc_id, source, n_tokens FROM (
            SELECT doc_id, source, n_tokens,
              sum(n_tokens) OVER (PARTITION BY source
                ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':', source)), doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum,
              200 * (1 + CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 3) AS budget
            FROM (SELECT doc_id, source, ${tokenCountSql("text")} AS n_tokens
                  FROM documents) t) w
          WHERE COALESCE(cum, 0) < budget""",

    // shard = exclusive-prefix-sum(tokens) // budget in doc_id order;
    // the window cumsum the engine deliberately avoids at scale is
    // exactly right for the single-node oracle
    "shard_pack" ->
      s"""SELECT doc_id, n_tokens,
            CAST(COALESCE(cum, 0) // 2000 AS BIGINT) AS shard
          FROM (SELECT doc_id, n_tokens,
                  sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum
                FROM (SELECT doc_id, ${tokenCountSql("text")} AS n_tokens
                      FROM documents) t) w""",

    // replays chunking end to end: same tokenization, start positions
    // 0, 24, 48, ... below the token count, windows of 32 clamped at
    // the doc end, md5 of the space-rejoined window
    "corpus_chunk" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                              w -> len(w) > 0) AS t
           FROM documents)
         SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
           CAST(len(t[u.i * 24 + 1 : u.i * 24 + 32]) AS INT) AS n_tokens,
           md5(array_to_string(t[u.i * 24 + 1 : u.i * 24 + 32], ' ')) AS chunk_md5
         FROM toks, unnest(generate_series(0, (len(t) - 1) // 24)) AS u(i)
         WHERE len(t) > 0""",

    // concat-and-chunk replay: exclusive window cumsum gives each doc's
    // global token offset; integer-div boundaries generate the per-doc
    // fragment rows (the single-node mirror of the distributed prefix sum)
    "pack_sequences" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                              w -> len(w) > 0) AS t
           FROM documents),
         offs AS (
           SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
                  CAST(COALESCE(SUM(CAST(len(t) AS BIGINT)) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS start
           FROM toks)
         SELECT u.i AS seq_id, doc_id,
                least(n, (u.i + 1) * 64 - start)
                  - greatest(0, u.i * 64 - start) AS n_frag_tokens,
                md5(array_to_string(
                  t[CAST(greatest(0, u.i * 64 - start) + 1 AS INT) :
                    CAST(least(n, (u.i + 1) * 64 - start) AS INT)], ' ')) AS frag_md5
         FROM offs, unnest(generate_series(start // 64, (start + n - 1) // 64)) AS u(i)
         WHERE n > 0""",

    "dedup_simhash" -> simhashOracle,

    // replays TextStats.fingerprint: per word a base-131 polynomial over
    // UTF-16 units (fixture text is BMP-only, so code points coincide),
    // folded FNV-1a-style across words; HUGEINT mod 2^64 emulates Long
    // wraparound, final two's-complement fold back to BIGINT
    "text_fingerprint" ->
      """SELECT doc_id,
           CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END AS BIGINT) AS fp
         FROM (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(1469598103934665603 AS HUGEINT),
                 [list_reduce(list_prepend(CAST(0 AS HUGEINT),
                     [CAST(unicode(c) AS HUGEINT) FOR c IN regexp_extract_all(w, '.')]),
                    (acc, ch) -> (acc * 131 + ch) % 18446744073709551616)
                  FOR w IN list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)]),
               (acc, wh) -> (xor(CAST(acc AS UBIGINT), CAST(wh AS UBIGINT))::HUGEINT * 1099511628211) % 18446744073709551616) AS h
           FROM documents) t""",

    // exhaustive-probe IVF ≡ exact top-k (see the query comment)
    "embed_ann_ivf" ->
      """SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
           FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) AS cos
                 FROM embeddings q, embeddings c
                 WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id) s) t
         WHERE rank <= 3""",

    // IVF nProbe=4 containment property: 3 results per query, all inside
    // the exact top-20 (see the query comment)
    "embed_ann_ivf_probe" ->
      """SELECT vec_id AS query_id, CAST(3 AS BIGINT) AS n_results,
                CAST(3 AS BIGINT) AS n_in_exact_top20
         FROM embeddings WHERE vec_id < 20""",

    // ANN containment property: 3 results per query, all inside the
    // exact top-10 (measured headroom on the fixture: max exact rank 4)
    "embed_ann_lsh" ->
      """SELECT vec_id AS query_id, CAST(3 AS BIGINT) AS n_results,
                CAST(3 AS BIGINT) AS n_in_exact_top10
         FROM embeddings WHERE vec_id < 20""",

    "dedup_embedding_cosine" ->
      """SELECT a.vec_id AS a, b.vec_id AS b,
                CAST(floor(1000 * list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                         CAST(b.embedding AS DOUBLE[]))) AS BIGINT) AS cos_milli
         FROM embeddings a, embeddings b
         WHERE a.vec_id < b.vec_id
           AND CAST(floor(1000 * list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                        CAST(b.embedding AS DOUBLE[]))) AS BIGINT) >= 400""",

    // replays semanticDupPairs with label clusters: same-label pairs,
    // identical double cosine, same per-mille floor
    "dedup_semantic" ->
      """SELECT a.vec_id AS a, b.vec_id AS b,
                CAST(floor(1000 * list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                         CAST(b.embedding AS DOUBLE[]))) AS BIGINT) AS cos_milli
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE CAST(floor(1000 * list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                        CAST(b.embedding AS DOUBLE[]))) AS BIGINT) >= 400""",

    // replays Multimodal.fakeMedia byte-for-byte: the 64-bit LCG runs in
    // HUGEINT mod 2^64; byte i = state>>>56 after i+1 steps; 16-bucket
    // histogram (all buckets, zeros included) as csv; integer divisions
    // mirror the Scala Long arithmetic exactly
    "multimodal_features" ->
      """WITH RECURSIVE docs AS (
           SELECT CAST(range AS BIGINT) AS doc_id,
                  CAST(4 + range % 5 AS INT) AS w,
                  CAST(3 + range % 4 AS INT) AS h
           FROM range(0, 200)
         ), lcg AS (
           SELECT doc_id, w, h, 0 AS i,
                  (CAST(doc_id AS HUGEINT) * 6364136223846793005 + 1442695040888963407) % 18446744073709551616 AS s
           FROM docs
           UNION ALL
           SELECT doc_id, w, h, i + 1,
                  (s * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
           FROM lcg WHERE i + 1 < w * h
         ), bytes AS (
           SELECT doc_id, CAST(s // 72057594037927936 AS BIGINT) AS b FROM lcg
         ), hist AS (
           SELECT d.doc_id, g.range AS bucket, coalesce(c.n, 0) AS n
           FROM docs d CROSS JOIN range(0, 16) g
           LEFT JOIN (SELECT doc_id, b // 16 AS bucket, count(*) AS n FROM bytes GROUP BY 1, 2) c
             ON c.doc_id = d.doc_id AND c.bucket = g.range
         ), agg AS (
           SELECT doc_id, string_agg(CAST(n AS VARCHAR), ',' ORDER BY bucket) AS hist_csv
           FROM hist GROUP BY doc_id
         ), stats AS (
           SELECT doc_id, CAST(sum(b) AS BIGINT) AS sm, count(*) AS len FROM bytes GROUP BY doc_id
         )
         SELECT d.doc_id,
                CASE WHEN d.doc_id % 3 = 0 THEN 'png' ELSE 'jpg' END AS format,
                CAST(12 + d.w * d.h AS INT) AS n_bytes,
                CAST(s.sm * 1000 // (s.len * 255) AS BIGINT) AS mean_byte_milli,
                a.hist_csv,
                CAST(greatest(d.w // 2, 1) AS INT) AS thumb_w,
                CAST(greatest(d.h // 2, 1) AS INT) AS thumb_h
         FROM docs d JOIN agg a USING (doc_id) JOIN stats s USING (doc_id)""",

    "embed_topk" ->
      """SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
           FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) AS cos
                 FROM embeddings q, embeddings c
                 WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id) s) t
         WHERE rank <= 3""")

  /** The PII patterns verbatim (already in the java.regex ∩ RE2 subset). */
  private val EmailRe = TextStats.EmailPattern
  private val Ipv4Re = TextStats.Ipv4Pattern

  /** RE2 spelling of TextStats.BpeishPattern (\uXXXX → \x{...}). */
  private val BpeishRe2 =
    "[a-zA-Z\\x{00C0}-\\x{024F}\\x{4e00}-\\x{9fff}]+|[0-9]|[^\\sa-zA-Z0-9\\x{00C0}-\\x{024F}\\x{4e00}-\\x{9fff}]"

  /** Exact all-pairs Hamming-≤3 oracle over the md5-nibble simhash (what
    * the block-trick bucket join must equal). Bit b of a word = bit
    * (b mod 4) of hex nibble (b div 4) of md5(word); per-bit ±1 sums over
    * words; doc bit = (sum > 0); dist = Σ bit differences. */
  private def simhashOracle: String = {
    val bitSums = (0 until 64).map(b =>
      s"sum(CASE WHEN (nib[${b / 4 + 1}] >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(", ")
    val bits = (0 until 64).map(b => s"(b$b > 0) AS t$b").mkString(", ")
    val dist = (0 until 64).map(b => s"CASE WHEN x.t$b <> y.t$b THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH planted AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 1000000, text FROM documents),
        words AS (
          SELECT id, w FROM (
            SELECT doc_id AS id, unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM planted) t
          WHERE length(w) > 0),
        nibs AS (
          SELECT id, [instr('0123456789abcdef', substring(md5(w), i + 1, 1)) - 1
                      FOR i IN generate_series(0, 15)] AS nib
          FROM words),
        sums AS (SELECT id, $bitSums FROM nibs GROUP BY id),
        sig AS (SELECT id, $bits FROM sums)
        SELECT a, b, dist FROM (
          SELECT x.id AS a, y.id AS b, CAST($dist AS INT) AS dist
          FROM sig x JOIN sig y ON x.id < y.id) p
        WHERE dist <= 3"""
  }

  /** Language-ID oracle (replays TextStats.langId) over `src` (a table or
    * prior CTE with doc_id, text). */
  private def langPredSql(src: String): String =
    s"""SELECT doc_id,
          CASE WHEN gmax > 0 AND czh = gmax THEN 'zh'
               WHEN gmax > 0 AND cen = gmax THEN 'en'
               WHEN gmax > 0 AND ces = gmax THEN 'es'
               WHEN gmax > 0 AND cde = gmax THEN 'de'
               WHEN gmax > 0 AND cfr = gmax THEN 'fr'
               ELSE 'und' END AS lang_pred
        FROM (SELECT doc_id, czh, cen, ces, cde, cfr,
                     greatest(czh, cen, ces, cde, cfr) AS gmax
              FROM (SELECT doc_id,
                      len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS czh,
                      len(regexp_extract_all(text, '\\b(the|and|of|is|to|in|that|it|for|was)\\b')) AS cen,
                      len(regexp_extract_all(text, '\\b(el|los|las|es|y|de|que|la|en|un)\\b')) AS ces,
                      len(regexp_extract_all(text, '\\b(der|die|das|und|ist|nicht|ein|zu|den|mit)\\b')) AS cde,
                      len(regexp_extract_all(text, '\\b(le|la|les|et|est|ne|pas|des|une|du)\\b')) AS cfr
                    FROM $src) c) g"""

  /** Quality-signals oracle (replays TextStats.qualitySignals/Keep) over
    * `src` (a table or prior CTE with doc_id, text). */
  private def qualitySql(src: String): String =
    s"""SELECT doc_id, n_tokens,
          CASE WHEN n_tokens > 0
               THEN CAST(floor(1000.0 * (chars - (n_tokens - 1)) / n_tokens) AS BIGINT)
               ELSE 0 END AS mean_token_len_milli,
          CASE WHEN chars > 0 THEN CAST(floor(1000.0 * punct / chars) AS BIGINT) ELSE 0 END AS punct_per_mille,
          CASE WHEN n_tokens > 0 THEN CAST(floor(1000.0 * stop / n_tokens) AS BIGINT) ELSE 0 END AS stopword_per_mille,
          CASE WHEN chars > 0 THEN CAST(floor(1000.0 * upper / chars) AS BIGINT) ELSE 0 END AS upper_per_mille,
          (n_tokens >= 10 AND n_tokens <= 100000
           AND (CASE WHEN chars > 0 THEN CAST(floor(1000.0 * upper / chars) AS BIGINT) ELSE 0 END) < 500
           AND (CASE WHEN n_tokens > 0
                     THEN CAST(floor(1000.0 * (chars - (n_tokens - 1)) / n_tokens) AS BIGINT)
                     ELSE 0 END) BETWEEN 1500 AND 20000) AS keep
        FROM (SELECT doc_id, length(text) AS chars,
                CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
                len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS punct,
                len(regexp_extract_all(text, '\\b(the|and|of|is|to|a|in|that|it|for)\\b')) AS stop,
                len(regexp_extract_all(text, '[A-Z]')) AS upper
              FROM $src) t"""

  /** The whitespace token-count expression (replays TextStats.tokenCount). */
  private def tokenCountSql(textExpr: String): String =
    s"""CAST(CASE WHEN length(trim($textExpr)) = 0 THEN 0
         ELSE len(string_split_regex(trim($textExpr), '\\s+')) END AS BIGINT)"""

  /** Shared CTE block computing the exact shingle-Jaccard pair set over
    * `src` (a table or prior CTE with doc_id, text). */
  private def jaccardCtes(minMilli: Int, src: String = "documents"): String =
    s"""sh AS (
          SELECT DISTINCT doc_id,
                 unnest([array_to_string(w[i:i+2], ' ') FOR i IN generate_series(1, len(w)-2)]) AS shingle
          FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM $src) ws
          WHERE len(w) >= 3),
        sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
                  FROM sh x JOIN sh y USING (shingle)
                  WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
        jpairs AS (
          SELECT a, b, CAST(floor(1000.0 * i / (sa.sz + sb.sz - i)) AS BIGINT) AS jaccard_milli
          FROM inter JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
          WHERE CAST(floor(1000.0 * i / (sa.sz + sb.sz - i)) AS BIGINT) >= $minMilli)"""

  /** Exact shingle-Jaccard pair oracle (what LSH+verify must equal). */
  private def jaccardOracle(minMilli: Int): String =
    s"WITH ${jaccardCtes(minMilli)} SELECT a, b, jaccard_milli FROM jpairs"

  /** Connected components over the exact near-dup pair set: min reachable
    * id per node via a recursive closure (what the distributed min-label
    * propagation must equal). */
  private def clustersOracle(minMilli: Int): String =
    s"""WITH RECURSIVE ${jaccardCtes(minMilli)},
        edges AS (SELECT a, b FROM jpairs UNION SELECT b, a FROM jpairs),
        reach(id, comp) AS (
          SELECT a AS id, a AS comp FROM edges
          UNION
          SELECT e.a AS id, r.comp FROM edges e JOIN reach r ON r.id = e.b)
        SELECT id, min(comp) AS comp FROM reach GROUP BY id"""

  /** Cluster-collapse survivors: the corpus minus non-representative
    * duplicate-cluster members. */
  private def survivorsOracle(minMilli: Int): String =
    s"""WITH RECURSIVE ${jaccardCtes(minMilli)},
        edges AS (SELECT a, b FROM jpairs UNION SELECT b, a FROM jpairs),
        reach(id, comp) AS (
          SELECT a AS id, a AS comp FROM edges
          UNION
          SELECT e.a AS id, r.comp FROM edges e JOIN reach r ON r.id = e.b),
        comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
        SELECT d.doc_id, d.lang, d.source FROM documents d
        WHERE d.doc_id NOT IN (SELECT id FROM comps WHERE comp <> id)"""
}
