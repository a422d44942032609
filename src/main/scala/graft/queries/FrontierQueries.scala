package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{UrlCanon, UrlExprs}
import graft.operators.{Blocklist, Dedup, Politeness}
import graft.plans.{CrawlJob, CrawlSettings}
import graft.sources.{Fixtures, Warc}

/** Crawl and frontier queries: URL canonicalization, seen-set dedup,
  * politeness and budgets, capture ingestion and the crawl wave loop.
  * The frontier fixture ([[urlsCte]]) is shared with the other modules. */
object FrontierQueries {

  /** Shared frontier derivation (FIXTURES.md §B): urls with deterministic
    * duplicates (orderkey % 5000), mixed-case hosts, fragments. */
  private[queries] def urlsCte(from: String): String = s"""
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

  private[queries] def oracle(body: String): String =
    s"WITH urls AS (${urlsCte("orders")}) $body"

  // the engine's operators under test: host is the native
  // UrlExprs.urlHost; the fragment strip has no native form
  private val stripFragUdf = udf((u: String) => UrlCanon.stripFragment(u))

  /** url_canon/host enrichment restricted to the SQL-expressible core
    * (P5/P7/P8) so DuckDB can reproduce it. */
  private[queries] def enriched(spark: SparkSession, sfDir: String): DataFrame =
    urlsDF(spark, sfDir)
      .withColumn("url_canon", lower(stripFragUdf(col("url"))))
      .withColumn("host", UrlExprs.urlHost(lower(col("url"))))

  /** [[enriched]] with the scan spread to the session's shuffle width
    * FIRST (r6): the source parquet is one row group, so every per-row
    * stage downstream — the enrich UDFs, XML synthesis, entry splits —
    * otherwise runs on a single core until the first exchange. Only the
    * queries whose per-row work dominates use this (the exchange moves
    * slim pre-enrich rows once); count()-pruned projection queries stay
    * on the plain form, where an exchange would be pure overhead. */
  private[queries] def enrichedSpread(spark: SparkSession, sfDir: String): DataFrame =
    urlsDF(spark, sfDir)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .withColumn("url_canon", lower(stripFragUdf(col("url"))))
      .withColumn("host", UrlExprs.urlHost(lower(col("url"))))

  private[queries] val enrichedOracle =
    """SELECT url, priority, seq,
              lower(regexp_replace(url, '#.*$', '')) AS url_canon,
              lower(regexp_extract(url, '^http://([^/#]+)', 1)) AS host
       FROM urls"""

  /** The per-host top-3 window every fixed-budget politeness query
    * must equal. */
  private val top3PerHostOracle = oracle(
    s"""SELECT host, priority, seq, url_canon FROM (
            SELECT host, priority, seq, url_canon,
                   row_number() OVER (PARTITION BY host ORDER BY priority, seq) AS rn
            FROM ($enrichedOracle) e) t
          WHERE rn <= 3""")

  /** Revisit history derived from lineitem: one snapshot per line item,
    * url keyed like the frontier fixture, signature = integer quantity,
    * version order (day, okey, lnum) unique within a url. */
  private def snapshots(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/lineitem.parquet").select(
      concat(lit("http://host"), ((col("l_orderkey") % 5000) % 50).cast("string"),
        lit(".example.com/o/"), (col("l_orderkey") % 5000).cast("string")).as("url"),
      // l_shipdate reads as TIMESTAMP_NTZ; the session TZ is pinned UTC
      // so the LTZ cast is the identity wall-clock DuckDB's epoch_us sees
      expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000").as("day"),
      col("l_quantity").cast("int").as("sig"),
      col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"))

  /** Oracle CTE replaying [[snapshots]] (epoch days via epoch_us). */
  private val snapshotsCte = """snaps AS (
           SELECT 'http://host' || CAST((l_orderkey % 5000) % 50 AS STRING) ||
                  '.example.com/o/' || CAST(l_orderkey % 5000 AS STRING) AS url,
                  epoch_us(l_shipdate) // 86400000000 AS day,
                  CAST(l_quantity AS INT) AS sig,
                  l_orderkey AS okey, l_linenumber AS lnum
           FROM lineitem)"""

  /** `df` computed into executor storage, then its scratch `dir`
    * deleted: the plan reads files under `dir` lazily, so deleting first
    * would break every later action, and not deleting leaks one directory
    * per run. */
  private def materializedThenDelete(dir: java.nio.file.Path, df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(true)
    graft.plans.Checkpoint.deleteRecursively(dir)
    out
  }

  def all: Seq[Query] = Seq(
    // P7/P8 core: fragment strip + lowercase
    Query("canon_strip_fragment", (s, d) =>
      urlsDF(s, d).select(lower(stripFragUdf(col("url"))).as("url_nofrag"), col("seq")),
      Some(oracle(
        "SELECT lower(regexp_replace(url, '#.*$', '')) AS url_nofrag, seq FROM urls"))),

    // P5: host extraction
    Query("host_extract", (s, d) =>
      urlsDF(s, d).select(UrlExprs.urlHost(lower(col("url"))).as("host"), col("seq")),
      Some(oracle(
        "SELECT lower(regexp_extract(url, '^http://([^/#]+)', 1)) AS host, seq FROM urls"))),

    // PSL registrable-domain extraction (politeness/blocklists group by
    // the registrable domain, not the raw host): per-row HOF chain over
    // the host's dot-suffixes with the rules as literal maps — no join
    Query("registered_domain", (s, d) => {
      val hosts = s.sql(pslHostsCte(s"parquet.`$d/orders.parquet`"))
      hosts.select(col("host"), col("seq"),
        graft.operators.PublicSuffix.registeredDomain(col("host"))
          .as("registered_domain"),
        graft.operators.PublicSuffix.publicSuffix(col("host"))
          .as("public_suffix"))
    },
      // replays the PSL algorithm: dot-suffixes × rules join, exceptions
      // prevail (min plen), else the longest exact/wildcard match, else
      // the default 1-label rule; registrable = public suffix + 1 label
      Some(s"""WITH hosts AS (${pslHostsCte("orders")}),
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
         FROM fin""")),

    // D1: first-seen dedup
    // the string url column is dropped BEFORE the dedup: with only
    // fixed-width value columns the first-seen aggregate runs on its
    // primitive min_by fast path (whole-stage HashAggregate — a string
    // value column would demote it to the struct-min SortAggregate
    // fallback, two full sorts; see PlanAudit)
    Query("dedup_anti", (s, d) =>
      Dedup.firstSeenInBatch(enriched(s, d).drop("url"), Seq(col("seq")))
        .select(col("url_canon"), col("seq")),
      Some(oracle(
        s"""SELECT url_canon, min(seq) AS seq FROM ($enrichedOracle) e GROUP BY url_canon"""))),

    // D2 via the cuckoo seen-filter (north rule "bloom/cuckoo"): the
    // store-filtered anti-join with kind=cuckoo must be output-identical
    // to the exact NOT IN — the filter only routes rows, never decides
    // membership (superset rule; CuckooSpec pins the store mechanics,
    // this oracle pins end-to-end row equality against DuckDB)
    Query("dedup_anti_cuckoo", (s, d) => {
      val e = enriched(s, d)
        .withColumn("url_hash", Dedup.urlHash(col("url_canon")))
      // seen keyed on the CANON id (seq % 5000 is the url identity in the
      // fixture derivation) — a seq-keyed split would cover every distinct
      // canon and leave a vacuous 0-row result
      val seen = e.filter(col("seq") % 5000 % 3 === 0)
        .select("url_hash", "url_canon").distinct()
      val cands = e.filter(col("seq") % 2 === 0)
        .select("url_hash", "url_canon", "seq")
      // tmpfs scratch (see crawl_schedule): throwaway filter-bucket state
      val dir = FrontierBench.scratchDir("graft-cuckoo-q")
      val store = new graft.operators.BloomStore(s, dir.toString, numBuckets = 8,
        bucketCapacity = 8192, kind = "cuckoo")
      store.rebuild(seen, 0)
      materializedThenDelete(dir,
        Dedup.antiJoinSeenWithBloomStore(cands, seen, store)
          .select(col("url_canon"), col("seq")))
    },
      Some(oracle(
        s"""SELECT url_canon, seq FROM ($enrichedOracle) e
          WHERE seq % 2 = 0
            AND url_canon NOT IN (
              SELECT url_canon FROM ($enrichedOracle) s
              WHERE (seq % 5000) % 3 = 0)"""))),

    // O6: per-host top-k politeness quota
    Query("politeness_topk", (s, d) =>
      Politeness.hostEligible(enriched(s, d), 3)
        .select(col("host"), col("priority"), col("seq"), col("url_canon")),
      Some(top3PerHostOracle)),

    // O6 at scale: salted two-phase top-k over every host (maxHotHosts = 0
    // trips the skew guard) — same result, same oracle
    Query("politeness_topk_salted", (s, d) =>
      Politeness.hostEligible(enriched(s, d), 3, salts = 4, maxHotHosts = 0)
        .select(col("host"), col("priority"), col("seq"), col("url_canon")),
      Some(top3PerHostOracle)),

    // O6/J5 frontier-scale path: adaptive skew split (cold hosts pass
    // narrow, only hot hosts ranked) — must equal the plain window
    Query("politeness_topk_adaptive", (s, d) =>
      Politeness.hostEligible(enriched(s, d), 3, salts = 4)
        .select(col("host"), col("priority"), col("seq"), col("url_canon")),
      Some(top3PerHostOracle)),

    // O7 adaptive throttling: per-host budget decay from banned windows
    Query("throttle_decay", (s, d) => {
      val m = enriched(s, d).groupBy((col("seq") % 5).cast("int").as("wave"), col("host"))
        .agg(count(lit(1)).as("fetched"),
          sum(when(col("seq") % 11 === 0, 1L).otherwise(0L)).as("errors"))
      Politeness.adaptiveHostBudgets(m, defaultBudget = 100)
    },
      Some(oracle(
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
          GROUP BY host"""))),

    // O4: globally ordered budget grant
    Query("budget_limit", (s, d) =>
      urlsDF(s, d).orderBy(col("priority").asc, col("seq").asc).limit(100)
        .select(col("url"), col("priority"), col("seq")),
      Some(oracle(
        "SELECT url, priority, seq FROM urls ORDER BY priority, seq LIMIT 100"))),

    // P2: ordered-rule parser dispatch, first match wins, case-insensitive
    // (cola/core/urls.py:62-73); rules overlap so order is load-bearing
    Query("parser_dispatch", (s, d) => {
      import graft.operators.{ParserDispatch, ParserRule}
      val rules = Seq(
        ParserRule("/o/[0-9]*[02468]$", "extract"),
        ParserRule("^http://host1", "links"),
        ParserRule("host", "leaf"))
      urlsDF(s, d).select(col("url"), col("seq"),
        ParserDispatch.parserId(col("url"), rules).as("parser_id"))
    },
      Some(oracle(
        """SELECT url, seq,
           CASE WHEN regexp_matches(url, '/o/[0-9]*[02468]$', 'i') THEN 'extract'
                WHEN regexp_matches(url, '^http://host1', 'i') THEN 'links'
                WHEN regexp_matches(url, 'host', 'i') THEN 'leaf'
                ELSE NULL END AS parser_id
         FROM urls"""))),

    // P3: priority clamp
    Query("priority_clamp", (s, d) =>
      urlsDF(s, d).select(col("seq"),
        Politeness.clampPriority(col("priority") * 7 - 3, 3).as("pclamp")),
      Some(oracle(
        "SELECT seq, CAST(least(greatest(priority * 7 - 3, 0), 2) AS INT) AS pclamp FROM urls"))),

    // MQ put path: union two waves + first-seen dedup
    Query("frontier_union_dedup", (s, d) => {
      val e = enriched(s, d).drop("url") // fixed-width values → hash-agg fast path
      val w1 = e.filter(col("seq") % 2 === 0)
      val w2 = e.filter(col("seq") % 3 === 0)
      Dedup.firstSeenInBatch(w1.unionByName(w2), Seq(col("seq")))
        .select(col("url_canon"), col("seq"))
    },
      Some(oracle(
        s"""SELECT url_canon, min(seq) AS seq FROM (
            SELECT * FROM ($enrichedOracle) e WHERE seq % 2 = 0
            UNION ALL
            SELECT * FROM ($enrichedOracle) e2 WHERE seq % 3 = 0) u
          GROUP BY url_canon"""))),

    // A1-A7: per-group counters (partial→final aggregation)
    Query("wave_counts", (s, d) =>
      enriched(s, d).groupBy(col("host")).agg(
        count(lit(1)).as("n"),
        min(col("seq")).as("min_seq"),
        max(col("seq")).as("max_seq"),
        sum(col("priority")).as("sum_priority")),
      Some(oracle(
        s"""SELECT host, count(*) AS n, min(seq) AS min_seq, max(seq) AS max_seq,
                 CAST(sum(priority) AS BIGINT) AS sum_priority
          FROM ($enrichedOracle) e GROUP BY host"""))),

    // J5: salted partition assignment is total and countable
    Query("skew_salt", (s, d) =>
      enriched(s, d)
        .withColumn("salt", (col("seq") % 8).cast("int"))
        .groupBy(col("host"), col("salt")).agg(count(lit(1)).as("n")),
      Some(oracle(
        s"""SELECT host, CAST(seq % 8 AS INT) AS salt, count(*) AS n
          FROM ($enrichedOracle) e GROUP BY host, CAST(seq % 8 AS INT)"""))),

    // X1/X2: extraction over the synthetic corpus (engine-only → rows-only)
    Query("extract_text", (s, _) => {
      val pages = Fixtures.pagesDF(s, 60L)
      val ex = udf((html: Array[Byte], u: String) =>
        graft.functions.Extract.extractText(html, u))
      pages.select(col("url"), length(ex(col("html"), col("url"))).as("n_chars"))
    },
      None),

    // WARC ingestion (S-side source for Common-Crawl-style dumps): the
    // REAL streaming parser over the deterministic fixture file (one
    // gzip member per record — CC layout — with warcinfo/request records
    // interleaved and angle-bracketed URIs); DuckDB regenerates every
    // expected response row from range() alone, so the oracle pins the
    // whole parse end to end (framing, gzip members, HTTP split, md5 of
    // the extracted body bytes)
    Query("warc_parse", (s, _) => {
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
    },
      // regenerates the fixture WARC's response rows purely from range():
      // same url/date/status/body construction as Fixtures.warcFile
      Some("""SELECT concat('http://host', CAST(seq % 20 AS STRING), '.example.com/w/',
                       CAST(seq AS STRING)) AS url,
                concat('2024-03-', lpad(CAST(1 + seq % 28 AS STRING), 2, '0'), 'T',
                       lpad(CAST(seq % 24 AS STRING), 2, '0'), ':05:00Z') AS warc_date,
                CAST(CASE WHEN seq % 13 = 0 THEN 404 ELSE 200 END AS BIGINT) AS http_status,
                'text/html; charset=UTF-8' AS mime,
                CAST(length(body) AS BIGINT) AS n_bytes,
                md5(body) AS body_md5
         FROM (SELECT seq, repeat('Body ' || CAST(seq AS STRING) || '. ',
                                  CAST(1 + seq % 5 AS INT)) AS body
               FROM range(200) t(seq)) b""")),

    // A3-A5 counter aggregators: Uniq (sorted set) + Overwrite (last-write)
    Query("counters_uniq_overwrite", (s, d) =>
      enriched(s, d).groupBy(col("host")).agg(
        concat_ws(",", sort_array(collect_set(col("priority")))).as("uniq_priorities"),
        max_by(col("priority"), col("seq")).as("last_priority")),
      Some(oracle(
        s"""SELECT host,
            array_to_string(list_sort(list(DISTINCT priority)), ',') AS uniq_priorities,
            arg_max(priority, seq) AS last_priority
          FROM ($enrichedOracle) e GROUP BY host"""))),

    // X4 title/date scalar parses (wiki parser semantics,
    // app/wiki/__init__.py:93-120: title before " - Wikipedia", en
    // edit-timestamp regex + month-name lookup -> timestamp; re-formatted
    // so the oracle compares stable strings)
    Query("title_date_parse", (s, d) => {
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
    },
      Some(oracle(
        """SELECT seq,
                regexp_extract(title, '^(.*) - Wikipedia$', 1) AS page_title,
                strftime(strptime(edited, '%H:%M, %d %B %Y'), '%Y-%m-%d %H:%M') AS edit_ts
         FROM (SELECT seq,
                      concat('Page ', CAST(seq AS STRING), ' - Wikipedia') AS title,
                      concat(lpad(CAST(seq % 24 AS STRING), 2, '0'), ':',
                             lpad(CAST(seq % 60 AS STRING), 2, '0'), ', ',
                             lpad(CAST(1 + seq % 28 AS STRING), 2, '0'), ' March ',
                             CAST(2020 + seq % 5 AS STRING)) AS edited
               FROM urls) t"""))),

    // X4 zh branch (the wiki parser's Chinese edit-timestamp regex,
    // app/wiki/__init__.py:80,111-113): `\d{4}年\d{1,2}月\d{1,2}日
    // \(.+\) \d{1,2}:\d{1,2}` searched inside the footer, the
    // parenthesized weekday stripped, 年/月 → '-' and 日 dropped before
    // parsing. Month/day/hour are NON-padded (unlike the en branch), so
    // the parse extracts 1-2 digit groups like the reference's dateutil
    Query("title_date_parse_zh", (s, d) => {
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
    },
      // zh branch: same footer construction, reference regex + make_timestamp
      // replay (regexp groups are 1-2 digit — non-padded like the source)
      Some(oracle(
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
                     FROM urls) f) t"""))),

    // spider-trap detection (Heritrix pathological-path/depth/param rules)
    // over the trap-shaped frontier — a pure map-side projection
    Query("url_trap_detect", (s, d) =>
      operators.Traps.detect(trapUrlsDF(s, d))
        .select(col("url"), col("seq"), col("depth"), col("seg_repeat"),
          col("n_params"), col("is_trap")),
      // the trap rules replayed on RE2+list lambdas (no backreferences by
      // design — see Traps scaladoc); thresholds 5/2/6 mirror the defaults
      Some(s"""WITH urls AS (${trapUrlsCte("orders")})
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
              FROM urls) a) b""")),

    // freshness-driven re-crawl schedule (Cho & Garcia-Molina 2003):
    // revisit history derived from lineitem (one snapshot per line item,
    // url keyed like the frontier fixture, signature = integer quantity);
    // change-rate estimate per url, then top-3 per host by rate
    Query("recrawl_schedule", (s, d) => {
      val rates = operators.Recrawl.changeRates(snapshots(s, d), tieCols = Seq("okey", "lnum"))
        .withColumn("host", regexp_extract(col("url"), "^http://([^/]+)", 1))
      operators.Recrawl.schedule(rates, 3)
        .select(col("host"), col("url"), col("n_obs"), col("changes"),
          col("span_days"), col("rate_milli"))
    },
      // lag/groupBy replay of the change-rate estimate + per-host top-3;
      // all-integer arithmetic (epoch days, milli-rate floor division)
      Some(s"""WITH $snapshotsCte,
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
           FROM rates) t WHERE rn <= 3""")),

    // newest-revision-wins collapse (the Common-Crawl revisit shape):
    // same lineitem-derived snapshot stream as recrawl_schedule; keep
    // the latest capture per url, version order (day, okey, lnum) —
    // unique within a url — via the WindowGroupLimit rank-1 filter
    Query("url_latest_revision", (s, d) =>
      Dedup.latestRevision(snapshots(s, d), "url", Seq("day", "okey", "lnum")),
      // newest-capture-per-url replay: the engine's WindowGroupLimit
      // rank-1 is a plain row_number window at oracle scale
      Some(s"""WITH $snapshotsCte
         SELECT url, day, sig, okey, lnum FROM (
           SELECT *, row_number() OVER (PARTITION BY url
                       ORDER BY day DESC, okey DESC, lnum DESC) AS rn
           FROM snaps) t WHERE rn = 1""")),

    // domain-blocklist verdict over a depth-varied host dimension:
    // nation-derived exact-host entries (host0..host24.example.com)
    // must block the bare host AND its www subdomain; the example.net
    // suffix entry blocks the 3-label cdn.img hosts; host25..39 pass
    Query("host_blocklist", (s, d) => {
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
    },
      // label-bounded suffix matching replayed with list_slice over the
      // dot-split host, joined to the nation-derived + literal entries
      Some("""WITH hostsq AS (
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
         FROM hostsq h LEFT JOIN blocked b ON b.host = h.host""")),

    // OpenGraph/JSON-LD metadata sidecar: both attribute orders, quote
    // styles and casings; content case preserved; absent → null
    Query("page_metadata", (s, d) => {
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
    },
      // replays PageMeta: case-insensitive (?is) tag match with content
      // case preserved, both attribute orders; JSON-LD via the json
      // extension behind a json_valid guard (get_json_object parity)
      Some(s"""WITH urls AS (${urlsCte("orders")}),
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
          FROM ld""")),

    // CDX capture index (the CC/Wayback artifact): SURT urlkey —
    // host-reversed, www-stripped, port-carrying — over a fixture that
    // exercises every branch (www prefix, :8080 port, query, mixed
    // case), 14-digit wall-clock ts, payload digest/length
    Query("cdx_index", (s, d) => {
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
    },
      // SURT replay with list_reverse over the dot-split host; md5 over
      // the same ASCII payload string, octet length via the blob cast
      Some("""WITH pages AS (
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
         FROM built""")),

    // O1-O12 wave loop end-to-end (engine-only → rows-only)
    Query("crawl_schedule", (s, _) => {
      val v = 150L
      val pages = Fixtures.pagesDF(s, v)
      // tmpfs-backed scratch when available (FrontierBench.scratchDir):
      // the checkpointed wave state is throwaway bench state, and /tmp is
      // plain disk in the sandbox while a cluster's state store is
      // page-cached NVMe — same rationale as the frontier bench's seen
      // table. The computed schedule is identical either way.
      val dir = FrontierBench.scratchDir("graft-q-crawl")
      val settings = CrawlSettings(size = 40, nPriorities = 1, hostBudget = 6,
        waveCap = 40, retries = 1, maxWaves = 8, urlPattern = Fixtures.UrlPattern,
        extract = false, bloomCapacity = 4096, numBuckets = 8)
      val job = new CrawlJob(s, pages, settings, dir.toString)
      job.run(Fixtures.seeds(v))
      materializedThenDelete(dir, job.scheduleTable)
    },
      None))
}
