package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Politeness, Robots}
import FrontierQueries.{enriched, enrichedOracle, enrichedSpread, oracle, urlsCte}

/** robots.txt, sitemap and page-level REP directive queries. */
object RobotsQueries {

  def all: Seq[Query] = Seq(
    // robots.txt gate (Robots.filterAllowed, the one RFC 9309 gate; the
    // three robots_filter* queries differ only in their fixtures):
    // Disallow-only prefixes
    Query("robots_filter", (s, d) => {
      val rules = Robots.rulesFromTxt(s, Seq(
        "host0.example.com" -> "User-agent: *\nDisallow: /o/1",
        "host3.example.com" -> "User-agent: *\nDisallow: /o/"))
      Robots.filterAllowed(enriched(s, d), rules)
        .select(col("url_canon"), col("host"), col("seq"))
    },
      Some(oracle(
        s"""SELECT url_canon, host, seq FROM (
            SELECT url_canon, host, seq,
                   regexp_replace(url_canon, '^http://[^/]*', '') AS path
            FROM ($enrichedOracle) e) t
          WHERE NOT (host = 'host0.example.com' AND path LIKE '/o/1%')
            AND NOT (host = 'host3.example.com' AND path LIKE '/o/%')"""))),

    // longest match with Allow lines: host0 = Allow carves the /o/1
    // subtree out of a Disallow /o/; host3 = exact Allow/Disallow tie
    // (Allow wins) over a Disallow-everything floor; host7 = allow floor
    // with one disallowed subtree; other hosts rule-free
    Query("robots_filter_rfc", (s, d) => {
      val rules = Robots.rulesFromTxt(s, Seq(
        "host0.example.com" -> "User-agent: *\nDisallow: /o/\nAllow: /o/1",
        "host3.example.com" -> "User-agent: *\nDisallow: /o/3\nAllow: /o/3\nDisallow: /",
        "host7.example.com" -> "User-agent: *\nAllow: /\nDisallow: /o/7"))
      Robots.filterAllowed(enriched(s, d), rules)
        .select(col("url_canon"), col("host"), col("seq"))
    },
      // RFC verdicts replayed as per-host path conditions (paths here are
      // always /o/<k>, so prefix matches collapse to LIKE on url_canon):
      // host0 keeps only the /o/1 allow-carve-out, host3's tie resolves
      // allow so only /o/3* survives its Disallow-/ floor, host7 drops
      // exactly the /o/7 subtree, every other host is rule-free
      Some(oracle(
        s"""SELECT url_canon, host, seq FROM ($enrichedOracle) e
          WHERE CASE host
            WHEN 'host0.example.com' THEN url_canon LIKE 'http://host0.example.com/o/1%'
            WHEN 'host3.example.com' THEN url_canon LIKE 'http://host3.example.com/o/3%'
            WHEN 'host7.example.com' THEN url_canon NOT LIKE 'http://host7.example.com/o/7%'
            ELSE TRUE END"""))),

    // wildcard rules (* any-sequence, $ end anchor): host2
    // blocks paths ending in 7, host5 is Disallow-/o/ with an
    // ends-in-5 wildcard carve-out (longest pattern wins), host9
    // blocks any path containing '1' — all verdicts on the PATH, so
    // the '9' in the hostname never triggers host9's rule
    Query("robots_filter_wildcard", (s, d) => {
      val rules = Robots.rulesFromTxt(s, Seq(
        "host2.example.com" -> "User-agent: *\nDisallow: /o/*7$",
        "host5.example.com" -> "User-agent: *\nDisallow: /o/\nAllow: /o/*5$",
        "host9.example.com" -> "User-agent: *\nDisallow: /*1*"))
      Robots.filterAllowed(enriched(s, d), rules)
        .select(col("url_canon"), col("host"), col("seq"))
    },
      // wildcard verdicts replayed as per-host path conditions (the spec's
      // 400-pair regex fuzz carries the general-matcher burden)
      Some(oracle(
        s"""SELECT url_canon, host, seq FROM ($enrichedOracle) e
          WHERE CASE host
            WHEN 'host2.example.com' THEN url_canon NOT LIKE '%7'
            WHEN 'host5.example.com' THEN url_canon LIKE '%5'
            WHEN 'host9.example.com' THEN
              regexp_extract(url_canon, '/o/(.*)$$', 1) NOT LIKE '%1%'
            ELSE TRUE END"""))),

    // sitemap INDEX ingestion (the nesting level above sitemap_parse):
    // two <sitemap> entries — one with lastmod, one whitespace-padded
    // loc-only — plus a loc-less entry that must drop
    Query("sitemap_index_parse", (s, d) => {
      val sm = enrichedSpread(s, d).select(col("host"), col("seq"),
        concat(
          lit("<sitemapindex><sitemap><loc>"), col("url_canon"),
          lit("/s1.xml</loc><lastmod>2023-0"), expr("cast(1 + seq % 9 as string)"),
          lit("-01</lastmod></sitemap><sitemap>\n <loc> "), col("url_canon"),
          lit("/s2.xml </loc>\n</sitemap><sitemap><lastmod>2020-01-01</lastmod></sitemap></sitemapindex>"))
          .as("body"))
      Robots.parseSitemapIndexXml(sm, "body")
        .select(col("host"), col("seq"), col("loc"), col("lastmod"))
    },
      Some(oracle(
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
          WHERE length(trim(regexp_extract(entry, '<loc>([^<]*)</loc>', 1))) > 0"""))),

    // robots.txt crawl-delay → per-host politeness caps (O6 variable
    // form): a 60s wave window grants floor(60/delay) fetches clamped to
    // [1, 8]; hosts without a *-group delay get the default quota of 3.
    // host1: 30s → 2; host2: 10s → 6; host5: 0.5s → 120 → clamped 8;
    // host4 names only googlebot → default; host6's 90s exceeds the
    // window → floor 0 → clamped 1.
    Query("robots_crawl_delay", (s, d) => {
      val delays = Robots.delaysFromTxt(s, Seq(
        "host1.example.com" -> "User-agent: *\nCrawl-delay: 30\nDisallow:",
        "host2.example.com" -> "User-agent: *\nCrawl-delay: 10",
        "host4.example.com" -> "User-agent: googlebot\nCrawl-delay: 1",
        "host5.example.com" -> "User-agent: *\nCrawl-delay: 0.5",
        "host6.example.com" -> "User-agent: *\nCrawl-delay: 90"))
      Politeness.hostEligible(enriched(s, d), 3,
          Some(Robots.capsFromDelays(delays, windowSecs = 60.0, maxK = 8)))
        .select(col("host"), col("priority"), col("seq"), col("url_canon"))
    },
      // the caps replay the crawl-delay arithmetic: floor(60/delay) in [1,8]
      Some(oracle(
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
                        ELSE 3 END"""))),

    // sitemap XML ingestion: deterministic per-row sitemap bodies (two
    // <url> entries — one fully attributed, one whitespace-padded
    // loc-only — plus a loc-less entry that must drop) parsed by the
    // codegen regexp pipeline into (loc, lastmod, sm_priority) rows
    Query("sitemap_parse", (s, d) => {
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
    },
      Some(oracle(
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
          WHERE length(trim(regexp_extract(entry, '<loc>([^<]*)</loc>', 1))) > 0"""))),

    // sitemap-driven recrawl: declared lastmod vs the capture record —
    // never-captured URLs come back 'new', strictly-newer lastmod
    // 'stale'; no-lastmod entries defer to the change-rate estimator
    Query("sitemap_recrawl", (s, d) => {
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
    },
      // replays sitemapRecrawl: lastmod parsed via the timestamp cast,
      // left join against the even-seq capture record, strict > staleness
      Some(s"""WITH urls AS (${urlsCte("orders")}),
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
         WHERE c.f IS NULL OR p.lastmod_us > c.f""")),

    // page-level REP directives (meta robots + rel=canonical): six html
    // shapes — name-first / content-first / uppercase / single-quoted /
    // root-relative / protocol-relative / the token-boundary trap
    // ('noindexing' must NOT read as noindex) — parsed by the codegen
    // regexp columns, canonical resolved against the page's own origin
    Query("page_directives", (s, d) => {
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
    },
      // replays the directive regexps (RE2-safe: no backreferences) +
      // token-bounded comma-list check + origin-resolved canonical; note
      // DuckDB regexp_replace needs the explicit 'g' flag Spark implies
      Some(s"""WITH urls AS (${urlsCte("orders")}),
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
          FROM m""")))
}
