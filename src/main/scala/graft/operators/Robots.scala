package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * robots.txt politeness rules (north-rule component; the reference has no
 * robots support — engine addition, offline model).
 *
 * Rules live in a small table (host, prefix, allow): one row per
 * `User-agent: *` Allow or Disallow line. One gate, [[filterAllowed]],
 * admits candidates under RFC 9309 — `*`/`$` patterns, longest match
 * decides — via a join on host that AQE makes a broadcast when the
 * rules side is small, so the frontier never shuffles for robots.
 */
object Robots {

  /** Everything the engine reads out of one robots.txt body:
   *  `*`-group disallow prefixes, the `*`-group crawl-delay (seconds;
   *  the MINIMUM across `*` groups when a site repeats it — the
   *  conservative read), and the file-global `Sitemap:` URLs (the
   *  de-facto standard scopes sitemaps to the whole file, not a
   *  group). */
  final case class Policy(
      disallows: Seq[String],
      crawlDelaySecs: Option[Double],
      sitemaps: Seq[String],
      allows: Seq[String] = Nil)

  /** Parse a robots.txt body for the `*` agent. Standard semantics:
   *  group by consecutive User-agent lines, collect Disallow / Allow /
   *  Crawl-delay of groups containing `*`; empty Disallow means
   *  allow-all; comments (#) stripped; non-numeric or non-positive
   *  crawl-delays ignored. `disallows` and `allows` feed the rule
   *  table of [[rulesFromTxt]]. */
  def parsePolicy(content: String): Policy = {
    if (content == null) return Policy(Nil, None, Nil)
    var groupAgents = Set.empty[String]
    var inHeader = false // reading the consecutive User-agent lines of a group
    val out = Seq.newBuilder[String]
    val allows = Seq.newBuilder[String]
    val maps = Seq.newBuilder[String]
    var delay: Option[Double] = None
    content.linesIterator.foreach { raw =>
      val line = { val i = raw.indexOf('#'); if (i >= 0) raw.substring(0, i) else raw }.trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val key = line.substring(0, colon).trim.toLowerCase
          val value = line.substring(colon + 1).trim
          key match {
            case "user-agent" =>
              if (!inHeader) { groupAgents = Set.empty; inHeader = true }
              groupAgents += value.toLowerCase
            case "disallow" =>
              inHeader = false
              if (groupAgents.contains("*") && value.nonEmpty) out += value
            case "crawl-delay" =>
              inHeader = false
              if (groupAgents.contains("*"))
                value.toDoubleOption.filter(d => d > 0 && !d.isInfinite).foreach { d =>
                  delay = Some(delay.fold(d)(math.min(_, d)))
                }
            case "allow" =>
              inHeader = false
              if (groupAgents.contains("*") && value.nonEmpty) allows += value
            case "sitemap" =>
              inHeader = false
              if (value.nonEmpty) maps += value
            case _ => // unknown keys end the header
              inHeader = false
          }
        }
      }
    }
    Policy(out.result(), delay, maps.result(), allows.result())
  }

  /** The rules table of [[filterAllowed]] from (host, robots.txt body)
   *  rows: one row per `*`-group Allow or Disallow line,
   *  (host, prefix, allow). A prefix is the line's raw pattern, `*` and
   *  `$` included. */
  def rulesFromTxt(spark: SparkSession, robots: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    robots.flatMap { case (host, txt) =>
      val p = parsePolicy(txt)
      p.disallows.map(r => (host, r, false)) ++ p.allows.map(r => (host, r, true))
    }.toDF("host", "prefix", "allow")
  }

  /** Per-host crawl-delay table (host, delay_secs) from (host, body) rows;
   *  hosts whose robots.txt names no `*`-group crawl-delay are absent. */
  def delaysFromTxt(spark: SparkSession, robots: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    robots.flatMap { case (host, txt) =>
      parsePolicy(txt).crawlDelaySecs.map(d => (host, d)) }
      .toDF("host", "delay_secs")
  }

  /** Turn crawl-delays into per-wave politeness caps: a host granting one
   *  fetch every `delay_secs` gets `floor(windowSecs / delay)` fetches of
   *  a wave's politeness window, clamped to [1, maxK] (a delay longer
   *  than the window still grants ONE fetch — the crawl must progress;
   *  the cap ceiling keeps the quota inside the top-k the politeness
   *  window already ranks). Emits (host, host_budget), the per-host table
   *  [[Politeness.hostEligible]] takes. */
  def capsFromDelays(delays: DataFrame, windowSecs: Double, maxK: Int): DataFrame = {
    require(windowSecs > 0 && maxK >= 1)
    delays.select(col("host"),
      least(greatest(floor(lit(windowSecs) / col("delay_secs")), lit(1L)),
        lit(maxK.toLong)).cast("int").as("host_budget"))
  }

  /** Parse sitemap XML bodies into one row per `<url>` entry: appends
   *  `loc` (trimmed; entries without one are dropped — loc is the spec's
   *  only required field), nullable `lastmod`, nullable `sm_priority`.
   *  Pure codegen expressions (regexp_extract_all + explode over the
   *  `(?s)`-dotall entry pattern) — no UDF, so a 10^6-sitemap ingest
   *  stays inside whole-stage codegen; entries explode map-side with no
   *  shuffle. Input needs a string column `bodyCol`. */
  /** Entry stream of a `<tag>…</tag>` list: match-for-match what
   *  `regexp_extract_all(body, '(?s)<tag>(.*?)</tag>', 1)` yields, via
   *  literal string ops instead of a lazy-dotall regex scan (measured
   *  ~2.5× the per-row cost of the parse): split on the close tag —
   *  every fragment but the unterminated last one was closed; a fragment
   *  produces an entry iff it contains an open tag (the regex consumes
   *  exactly one close tag per match, left to right, so matches map 1:1
   *  to closed fragments containing an open tag); the entry is the
   *  fragment cut after its FIRST open tag (a lazy match captures any
   *  later open tags as content). Pinned against the regex form by a
   *  RobotsCountersSpec property sweep over malformed bodies. */
  private[graft] def tagEntries(df: DataFrame, bodyCol: String, tag: String): DataFrame = {
    val cut = s"substring(f, instr(f, '<$tag>') + ${tag.length + 2})"
    df.withColumn("__frags", split(col(bodyCol), s"</$tag>", -1))
      .withColumn("__entry", explode(expr(
        s"transform(filter(slice(__frags, 1, size(__frags) - 1), " +
          s"f -> instr(f, '<$tag>') > 0), f -> $cut)")))
      .drop("__frags")
  }

  def parseSitemapXml(sitemaps: DataFrame, bodyCol: String): DataFrame =
    tagEntries(sitemaps, bodyCol, "url")
      .withColumn("loc", trim(regexp_extract(col("__entry"), "<loc>([^<]*)</loc>", 1)))
      .filter(length(col("loc")) > 0)
      .withColumn("lastmod",
        nullif(regexp_extract(col("__entry"), "<lastmod>([^<]*)</lastmod>", 1), lit("")))
      .withColumn("sm_priority",
        nullif(regexp_extract(col("__entry"), "<priority>([^<]*)</priority>", 1), lit(""))
          .cast("double"))
      .drop("__entry")

  /** Sitemap-driven recrawl selection: given parsed sitemap entries
   *  ([[parseSitemapXml]] shape: loc + nullable lastmod string) and the
   *  capture record (url, last-fetch epoch micros), emit the URLs worth
   *  re-fetching — never captured (`reason = 'new'`) or whose declared
   *  lastmod is STRICTLY newer than the last capture (`'stale'`).
   *  Entries without a parseable lastmod are dropped: with no declared
   *  change time the freshness decision belongs to the change-rate
   *  estimator ([[Traps]]' recrawl scheduling), not the sitemap.
   *  Lastmod parses through the timestamp cast (W3C date and datetime
   *  forms) under the engine's pinned UTC session.
   *
   *  Scale: one equi-join keyed on the URL — the capture side is the
   *  engine's bucketed seen/results table, so the big side needs no
   *  exchange; the sitemap side explodes map-side upstream. */
  def sitemapRecrawl(entries: DataFrame, locCol: String, lastmodCol: String,
      captures: DataFrame, urlCol: String, fetchedUsCol: String): DataFrame = {
    // try_to_timestamp: real-web lastmod strings are dirty, and under
    // ANSI a plain cast would fail the whole job on one malformed entry
    val e = entries.select(col(locCol).as("loc"),
        unix_micros(try_to_timestamp(col(lastmodCol))).as("lastmod_us"))
      .filter(col("lastmod_us").isNotNull)
    val c = captures.select(col(urlCol).as("loc"),
      col(fetchedUsCol).cast("long").as("__f"))
    e.join(c, Seq("loc"), "left")
      .filter(col("__f").isNull || col("lastmod_us") > col("__f"))
      .select(col("loc"),
        when(col("__f").isNull, lit("new")).otherwise(lit("stale")).as("reason"),
        col("lastmod_us"))
  }

  /** Path component of a canonical URL ('' → '/'). */
  def pathOf(urlCanon: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(urlCanon, "^[a-z][a-z0-9+.-]*://[^/]*", ""), "^$", "/")

  /** RFC 9309 admission (§2.2.2): drop candidates whose path their
   *  host's rules disallow. `candidates` needs (host, url_canon); `rules`
   *  is the (host, prefix, allow) table of [[rulesFromTxt]], where a
   *  prefix may hold `*` (any octet sequence) and a trailing `$` (end
   *  anchor). The longest matching pattern decides — specificity is the
   *  pattern's octet length, Google's published tie order — Allow wins a
   *  length tie, and no match allows: `Disallow: /` + `Allow: /public/`
   *  crawls exactly the public tree.
   *
   *  Each pattern is split on `*` once, on the rules side (parts,
   *  anchored, plen), so the per-URL matcher [[wildcardMatches]] is a
   *  pure fold with no per-row pattern parsing. Rules are pre-grouped to
   *  one array row per host and the verdict is a per-row codegen'd fold
   *  over them (rules × parts per URL, both small constants): no shuffle
   *  on the frontier, no per-rule row explosion. The spec fuzzes the
   *  matcher against a regex translation.
   *
   *  No broadcast HINT on the rules side: per-host rules for a 10^7+
   *  host web crawl reach GBs, and a hint is obeyed even at OOM size
   *  (the same hazard class as the r2 hot-host broadcast). AQE makes
   *  this a broadcast join at runtime when the measured rules table is
   *  small (every fixture/test here), and falls back to a shuffle join
   *  keyed on host — an exchange the politeness top-k downstream pays
   *  anyway — when it is not. */
  def filterAllowed(candidates: DataFrame, rules: DataFrame): DataFrame = {
    val agg = rules.groupBy(col("host")).agg(collect_list(struct(
        split(regexp_replace(col("prefix"), "\\$$", ""), "\\*", -1).as("parts"),
        col("prefix").endsWith("$").as("anchored"),
        length(col("prefix")).as("plen"),
        col("allow")))
      .as("__rules"))
    val verdict = {
      val matching = filter(col("__rules"),
        r => wildcardMatches(col("__path"), r("parts"), r("anchored")))
      // fold to the best rule under (longest pattern, allow wins ties);
      // the seed is the no-match default: length -1, allowed
      aggregate(matching,
        struct(lit(-1).as("len"), lit(true).as("allow")),
        (acc, r) => {
          val better = r("plen") > acc("len") ||
            (r("plen") === acc("len") && r("allow") && !acc("allow"))
          when(better, struct(r("plen").as("len"), r("allow").as("allow")))
            .otherwise(acc)
        })("allow")
    }
    candidates.join(agg, Seq("host"), "left")
      .withColumn("__path", pathOf(col("url_canon")))
      .filter(col("__rules").isNull || verdict)
      .drop("__rules", "__path")
  }

  /** One rule's match verdict against `path` — RFC 9309 wildcard
   *  semantics via greedy leftmost placement of the inter-`*` literal
   *  parts (greedy is exact for pure-existence `*` matching; the end
   *  anchor is checked as a suffix no earlier than the running
   *  position). 1-based positions throughout (SQL `locate`). */
  private[operators] def wildcardMatches(path: Column, parts: Column,
      anchored: Column): Column = {
    val first = element_at(parts, 1)
    val n = size(parts)
    val init = struct((length(first) + 1).as("cur"),
      path.startsWith(first).as("ok"))
    // middle parts: everything between the first and the last
    val middles = slice(parts, lit(2), greatest(n - 2, lit(0)))
    val folded = aggregate(middles, init, (acc, p) => {
      val loc = call_function("locate", p, path, acc("cur"))
      struct(
        when(p === "" || !acc("ok"), acc("cur"))
          .otherwise(loc + length(p)).as("cur"),
        (acc("ok") && (p === "" || loc > 0)).as("ok"))
    })
    val last = element_at(parts, -1)
    val lastLoc = call_function("locate", last, path, folded("cur"))
    when(n === 1,
      when(anchored, path === first).otherwise(path.startsWith(first)))
      .otherwise(folded("ok") && when(anchored,
        path.endsWith(last) &&
          (length(path) - length(last) + 1 >= folded("cur")))
        .otherwise(last === "" || lastLoc > 0))
  }

  /** Parse sitemap INDEX bodies (`<sitemapindex>` — the nesting level
   *  above [[parseSitemapXml]]: a large site shards its URL set across
   *  child sitemaps and robots.txt points at the index): one row per
   *  `<sitemap>` entry with `loc` (required, trimmed) and nullable
   *  `lastmod`. Same codegen regexp shape — the ingest loop alternates
   *  index → children → URLs without leaving whole-stage codegen. */
  def parseSitemapIndexXml(indexes: DataFrame, bodyCol: String): DataFrame =
    tagEntries(indexes, bodyCol, "sitemap")
      .withColumn("loc", trim(regexp_extract(col("__entry"), "<loc>([^<]*)</loc>", 1)))
      .filter(length(col("loc")) > 0)
      .withColumn("lastmod",
        nullif(regexp_extract(col("__entry"), "<lastmod>([^<]*)</lastmod>", 1), lit("")))
      .drop("__entry")

  // ---- page-level directives (REP's in-document half) ----
  //
  // robots.txt governs FETCHING; <meta name="robots"> and rel=canonical
  // govern what a crawler may KEEP and how it keys the page. Production
  // pipelines honor noindex (drop from the corpus), nofollow (drop the
  // page's outlinks), and canonical (re-key onto the site-declared URL —
  // the CC-News/sitemap dedup trick). All three are codegen'd
  // regexp/string Columns — no UDF, per-row map-side, replayable in any
  // RE2-compatible engine (no backreferences, no lookaround). The regex
  // surface targets well-formed directives (both attribute orders, either
  // quote style, any casing); pathological soup falls back to the full
  // Html parser pipeline, which treats an unreadable directive as absent
  // — the same fail-open reading a fetch-side crawler applies.

  private def tokenIn(listCol: Column, token: String): Column =
    concat(lit(","), regexp_replace(listCol, "\\s+", ""), lit(","))
      .contains("," + token + ",")

  private def metaRobotsContent(htmlCol: Column): Column = {
    val h = lower(htmlCol)
    // attribute order varies in the wild: name-first and content-first
    val nameFirst = regexp_extract(h,
      """(?s)<meta[^>]*name\s*=\s*["']robots["'][^>]*content\s*=\s*["']([^"']*)""", 1)
    val contentFirst = regexp_extract(h,
      """(?s)<meta[^>]*content\s*=\s*["']([^"']*)["'][^>]*name\s*=\s*["']robots["']""", 1)
    when(nameFirst =!= "", nameFirst).otherwise(contentFirst)
  }

  /** True when the page's robots meta declares the token (`noindex`,
   *  `nofollow`, `noarchive`, ...) — token-bounded on the comma list, so
   *  `noindexing` never matches `noindex`. Absent/unparseable meta →
   *  false (fail-open, like a fetcher). */
  def metaRobotsHas(htmlCol: Column, token: String): Column =
    // coalesce: a null html must read as no-directive (false), or the
    // !noindex keep-filter in applyPageDirectives would silently DROP
    // null-html rows via three-valued logic — the opposite of fail-open
    coalesce(tokenIn(metaRobotsContent(htmlCol), token.toLowerCase),
      lit(false))

  /** Both directive flags as one struct(noindex, nofollow) — the engine
   *  wave loop's form: the content regex runs once and both token checks
   *  share it (whole-stage codegen subexpression elimination keeps even
   *  the two-call form single-scan, but the struct makes it explicit). */
  def metaRobotsFlags(htmlCol: Column): Column = {
    val c = metaRobotsContent(htmlCol)
    val list = concat(lit(","), regexp_replace(c, "\\s+", ""), lit(","))
    struct(list.contains(",noindex,").as("noindex"),
      list.contains(",nofollow,").as("nofollow"))
  }

  /** The page's declared canonical URL, resolved against its own URL:
   *  absolute hrefs pass through, root-relative (`/p/1`) resolve on the
   *  page's scheme+host, anything else (protocol-relative, dot-relative,
   *  absent) is null — full RFC 3986 resolution is UrlCanon.absolutize,
   *  an engine-side step; this Column is the SQL-replayable core. */
  def canonicalUrl(htmlCol: Column, urlCol: Column): Column = {
    val h = lower(htmlCol)
    val relFirst = regexp_extract(h,
      """(?s)<link[^>]*rel\s*=\s*["']canonical["'][^>]*href\s*=\s*["']([^"']*)""", 1)
    val hrefFirst = regexp_extract(h,
      """(?s)<link[^>]*href\s*=\s*["']([^"']*)["'][^>]*rel\s*=\s*["']canonical["']""", 1)
    val href = trim(when(relFirst =!= "", relFirst).otherwise(hrefFirst))
    val origin = regexp_extract(urlCol, "^(https?://[^/?#]+)", 1)
    when(href.startsWith("http://") || href.startsWith("https://"), href)
      .when(href.startsWith("//"), lit(null).cast("string"))
      .when(href.startsWith("/") && origin =!= "", concat(origin, href))
      .otherwise(lit(null).cast("string"))
  }

  /** Page-keep gate + canonical re-keying in one pass: drops noindex
   *  pages, re-keys the survivors onto their canonical URL (null
   *  canonical → own URL), and exposes `nofollow` for the outlink stage
   *  to honor. Pure projection + filter — composes into the extraction
   *  stage at 10^10 pages with no shuffle. */
  def applyPageDirectives(pages: DataFrame, htmlCol: String,
      urlCol: String): DataFrame =
    pages
      .filter(!metaRobotsHas(col(htmlCol), "noindex"))
      .withColumn("corpus_url",
        coalesce(canonicalUrl(col(htmlCol), col(urlCol)), col(urlCol)))
      .withColumn("nofollow", metaRobotsHas(col(htmlCol), "nofollow"))
}
