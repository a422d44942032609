package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{CrawlJob, CrawlSettings}
import graft.sources.Fixtures

class RobotsCountersSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("parsePolicy disallows: star group, comments, multi-agent headers, allows apart") {
    val txt =
      """# comment
        |User-agent: googlebot
        |Disallow: /google-only
        |
        |User-agent: *
        |User-agent: graftbot
        |Disallow: /private/   # trailing comment
        |Allow: /private/ok
        |Disallow: /tmp
        |
        |User-agent: bingbot
        |Disallow: /bing
        |""".stripMargin
    assert(Robots.parsePolicy(txt).disallows == Seq("/private/", "/tmp"))
    assert(Robots.parsePolicy("User-agent: *\nDisallow:").disallows == Seq.empty) // empty = allow all
    assert(Robots.parsePolicy(null).disallows == Seq.empty)
  }

  test("parsePolicy: *-group crawl-delay (min across groups), sitemaps are file-global") {
    val txt =
      """User-agent: googlebot
        |Crawl-delay: 1
        |Sitemap: http://a.com/sitemap-a.xml
        |
        |User-agent: *
        |Crawl-delay: 10
        |Disallow: /x
        |
        |User-agent: *
        |Crawl-delay: 4.5
        |
        |User-agent: bingbot
        |Crawl-delay: bogus
        |Sitemap: http://a.com/sitemap-b.xml
        |""".stripMargin
    val p = Robots.parsePolicy(txt)
    assert(p.crawlDelaySecs.contains(4.5), "min across *-groups; non-* ignored")
    assert(p.disallows == Seq("/x"))
    assert(p.sitemaps ==
      Seq("http://a.com/sitemap-a.xml", "http://a.com/sitemap-b.xml"),
      "sitemap lines are global, regardless of the surrounding group")
    // non-numeric / non-positive / missing delays yield None
    assert(Robots.parsePolicy("User-agent: *\nCrawl-delay: bogus").crawlDelaySecs.isEmpty)
    assert(Robots.parsePolicy("User-agent: *\nCrawl-delay: -2").crawlDelaySecs.isEmpty)
    assert(Robots.parsePolicy("User-agent: *\nCrawl-delay: 0").crawlDelaySecs.isEmpty)
    assert(Robots.parsePolicy(null).crawlDelaySecs.isEmpty)
  }

  test("capsFromDelays: floor(window/delay) clamped to [1, maxK]") {
    val delays = Robots.delaysFromTxt(spark, Seq(
      "slow.com" -> "User-agent: *\nCrawl-delay: 30",   // 60/30 = 2
      "mid.com" -> "User-agent: *\nCrawl-delay: 10",    // 6
      "fast.com" -> "User-agent: *\nCrawl-delay: 0.5",  // 120 -> 8
      "glacial.com" -> "User-agent: *\nCrawl-delay: 90", // 0 -> 1
      "nodelay.com" -> "User-agent: *\nDisallow: /x"))  // absent
    val caps = Robots.capsFromDelays(delays, windowSecs = 60.0, maxK = 8)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(caps == Map("slow.com" -> 2, "mid.com" -> 6, "fast.com" -> 8, "glacial.com" -> 1))
  }

  test("hostEligibleCapped: per-host caps bind, absent hosts get the default") {
    // the caps table feeds the one politeness gate as a per-host budget
    val cands = spark.createDataFrame(
      for (h <- Seq("slow.com", "free.com"); i <- 0 until 10)
        yield (h, i % 2, i.toLong, s"http://$h/p/$i")
    ).toDF("host", "priority", "seq", "url_canon")
    val caps = spark.createDataFrame(Seq(("slow.com", 2))).toDF("host", "host_budget")
    val got = Politeness.hostEligible(cands, 3, Some(caps))
      .collect().map(r => (r.getAs[String]("host"), r.getAs[Long]("seq"))).toSet
    // slow.com keeps its top 2 by (priority, seq): seqs 0,2; free.com top 3: 0,2,4
    assert(got == Set(("slow.com", 0L), ("slow.com", 2L),
      ("free.com", 0L), ("free.com", 2L), ("free.com", 4L)))
  }

  test("hostEligibleCapped plan: the literal ceiling keeps WindowGroupLimit (partial top-k)") {
    // the per-row cap alone would disable the rank pushdown and fully
    // sort every host; the conjoined literal bound (the default or the
    // largest cap, whichever is higher) must keep the partial top-k below
    // the window sort
    val cands = spark.range(0, 1000).selectExpr(
      "concat('h', id % 50, '.com') as host",
      "cast(id % 3 as int) as priority", "id as seq",
      "concat('http://h', id % 50, '.com/p/', id) as url_canon")
    val caps = spark.createDataFrame(Seq(("h0.com", 1), ("h1.com", 8))).toDF("host", "host_budget")
    val plan = Politeness.hostEligible(cands, 3, Some(caps))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("parseSitemapXml: loc required, dotall entries, trim, nullable lastmod/priority") {
    val body =
      """<?xml version="1.0"?><urlset>
        |<url><loc>http://a.com/1</loc><lastmod>2024-01-15</lastmod><priority>0.8</priority></url>
        |<url>
        |  <loc>  http://a.com/2  </loc>
        |</url>
        |<url><lastmod>2020-01-01</lastmod></url>
        |</urlset>""".stripMargin
    val rows = Robots.parseSitemapXml(
      spark.createDataFrame(Seq(("a.com", body))).toDF("host", "body"), "body")
      .select("loc", "lastmod", "sm_priority")
      .collect().map(r => (r.getString(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(rows == Seq(
      ("http://a.com/1", Some("2024-01-15"), Some(0.8)),
      ("http://a.com/2", None, None)), s"got $rows")
  }

  test("filterAllowed drops disallowed paths per host only") {
    val cands = spark.createDataFrame(Seq(
      ("http://a.com/private/x", "a.com"),
      ("http://a.com/public/x", "a.com"),
      ("http://b.com/private/x", "b.com"))).toDF("url_canon", "host")
    val rules = Robots.rulesFromTxt(spark, Seq("a.com" -> "User-agent: *\nDisallow: /private/"))
    val kept = Robots.filterAllowed(cands, rules).select("url_canon")
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("http://a.com/public/x", "http://b.com/private/x"))
  }

  test("filterAllowed: AQE still broadcasts a small rules table with no hint") {
    // the rules join carries no broadcast hint (unbounded at 10^7+ hosts);
    // this pins that AQE converts it to a broadcast join at runtime when
    // the rules table is actually small — the common case costs nothing
    val cands = spark.range(0, 2000).selectExpr(
      "concat('http://h', id % 50, '.com/p/', id) AS url_canon",
      "concat('h', id % 50, '.com') AS host")
    val rules = Robots.rulesFromTxt(spark, Seq("h0.com" -> "User-agent: *\nDisallow: /p/"))
    val out = Robots.filterAllowed(cands, rules)
    out.count() // finalize the adaptive plan
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"), s"expected runtime broadcast in:\n$plan")
  }

  test("crawl with robots rules never schedules disallowed urls; counters/inc populated") {
    val v = 200L
    val pages = Fixtures.pagesDF(spark, v)
    val rules = Robots.rulesFromTxt(spark,
      Seq("host0.example.com" -> "User-agent: *\nDisallow: /p/"))
    val dir = java.nio.file.Files.createTempDirectory("crawl-robots").toString
    val settings = CrawlSettings(size = 60, hostBudget = 3, waveCap = 60, retries = 0,
      maxWaves = 20, urlPattern = Fixtures.UrlPattern, extract = true,
      seenFilter = "none", numBuckets = 8)
    val job = new CrawlJob(spark, pages, settings, dir, robotsRules = Some(rules))
    val summary = job.run(Fixtures.seeds(v))
    val host0 = job.scheduleTable.filter(col("host") === "host0.example.com").count()
    assert(host0 == 0, "robots-disallowed host0 pages must never be scheduled")
    assert(summary.finished > 0)
    // O9 inc table: one row per finished fetch
    assert(job.incTable.count() == summary.finished)
    // A1/A6 accumulator counters match driver-side metrics
    val c = job.counters.value
    assert(c(("budget", "finishes")) == summary.finished)
    // counted once per extracted row by the wave Observation, so a
    // retried or recomputed task cannot recount
    assert(c(("extract", "pages")) == summary.finished)
  }

  test("crawl honours an Allow carve-out and a wildcard rule end to end") {
    val v = 200L
    val pages = Fixtures.pagesDF(spark, v)
    // host0: everything disallowed but the /p/1 subtree; host1: paths
    // ending in 3 disallowed (its seed /p/3 among them)
    val rules = Robots.rulesFromTxt(spark, Seq(
      "host0.example.com" -> "User-agent: *\nDisallow: /\nAllow: /p/1",
      "host1.example.com" -> "User-agent: *\nDisallow: /p/*3$"))
    val dir = java.nio.file.Files.createTempDirectory("crawl-robots-rfc").toString
    val settings = CrawlSettings(size = 60, hostBudget = 3, waveCap = 60, retries = 0,
      maxWaves = 20, urlPattern = Fixtures.UrlPattern, extract = true,
      seenFilter = "none", numBuckets = 8)
    val job = new CrawlJob(spark, pages, settings, dir, robotsRules = Some(rules))
    job.run(Fixtures.seeds(v))
    val sched = job.scheduleTable.select("host", "url_canon").persist()
    val urls = sched.collect().map(r => (r.getString(0), r.getString(1)))
    assert(Robots.filterAllowed(sched, rules).count() == urls.length,
      "every scheduled url must pass the gate")
    val host0 = urls.collect { case ("host0.example.com", u) => u }
    assert(host0.nonEmpty && host0.forall(_.startsWith("http://host0.example.com/p/1")),
      s"host0 crawls its Allow carve-out and nothing else: ${host0.toSeq}")
    val host1 = urls.collect { case ("host1.example.com", u) => u }
    assert(host1.nonEmpty && !host1.exists(_.matches("http://host1\\.example\\.com/p/.*3")),
      s"host1 never schedules a path ending in 3: ${host1.toSeq}")
    sched.unpersist()
  }

  test("counter aggregators map to sum/collect_list/collect_set/max_by") {
    val df = spark.createDataFrame(Seq(
      ("g1", "a", 1L, 1L), ("g1", "a", 2L, 2L), ("g1", "b", 5L, 3L),
      ("g2", "a", 7L, 4L), ("g2", "a", 7L, 5L))).toDF("g", "i", "v", "ord")
    def run(kind: Counters.Kind) =
      Counters.aggregate(df, col("g"), col("i"), col("v"), kind, col("ord"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.get(2)).toMap
    val add = run(Counters.Add)
    assert(add(("g1", "a")) == 3L && add(("g2", "a")) == 14L)
    val merge = run(Counters.Merge)
    assert(merge(("g1", "a")).asInstanceOf[scala.collection.Seq[Long]].toSeq == Seq(1L, 2L))
    val uniq = run(Counters.Uniq)
    assert(uniq(("g2", "a")).asInstanceOf[scala.collection.Seq[Long]].toSeq == Seq(7L))
    val over = run(Counters.Overwrite)
    assert(over(("g1", "a")) == 2L) // last write by ord
  }

  // ---- RFC 9309 gate + sitemap index ----

  test("parsePolicy collects *-group Allow lines; legacy disallows unchanged") {
    val p = Robots.parsePolicy(
      "User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
        "User-agent: googlebot\nAllow: /google-only\nDisallow: /g")
    assert(p.disallows === Seq("/private"))
    assert(p.allows === Seq("/private/ok"))
  }

  test("filterAllowed: longest match decides, Allow wins ties, no match allows") {
    val s = spark
    import s.implicits._
    val cands = Seq(
      ("h1", "http://h1/private/ok/x"),  // allow /private/ok (6 > len(/private))
      ("h1", "http://h1/private/no"),    // disallow /private
      ("h1", "http://h1/pub"),           // no matching rule -> allowed
      ("h2", "http://h2/t/x"),           // exact tie at /t -> allow wins
      ("h2", "http://h2/other"),         // disallow-/ floor
      ("h3", "http://h3/anything"))      // rule-free host
      .toDF("host", "url_canon")
    val rules = Seq(
      ("h1", "/private", false), ("h1", "/private/ok", true),
      ("h2", "/t", false), ("h2", "/t", true), ("h2", "/", false))
      .toDF("host", "prefix", "allow")
    val kept = Robots.filterAllowed(cands, rules)
      .select("url_canon").collect().map(_.getString(0)).toSet
    assert(kept === Set("http://h1/private/ok/x", "http://h1/pub",
      "http://h2/t/x", "http://h3/anything"))
  }

  test("filterAllowed: a Disallow-/ floor with an Allow subtree crawls exactly the subtree") {
    val s = spark
    import s.implicits._
    val cands = Seq(("h", "http://h/public/a"), ("h", "http://h/secret/b"))
      .toDF("host", "url_canon")
    val rules = Robots.rulesFromTxt(spark,
      Seq("h" -> "User-agent: *\nDisallow: /\nAllow: /public/"))
    val kept = Robots.filterAllowed(cands, rules)
      .select("url_canon").collect().map(_.getString(0)).toSet
    assert(kept === Set("http://h/public/a"))
  }

  test("parseSitemapIndexXml: <sitemap> entries, loc required, lastmod nullable") {
    val s = spark
    import s.implicits._
    val body =
      "<sitemapindex><sitemap><loc>http://a/s1.xml</loc><lastmod>2023-01-01</lastmod></sitemap>" +
        "<sitemap>\n <loc> http://a/s2.xml </loc>\n</sitemap>" +
        "<sitemap><lastmod>2020-01-01</lastmod></sitemap></sitemapindex>"
    val out = Robots.parseSitemapIndexXml(Seq(("a", body)).toDF("host", "body"), "body")
      .select("loc", "lastmod").collect()
      .map(r => (r.getString(0), Option(r.getString(1))))
    assert(out.toSeq === Seq(
      ("http://a/s1.xml", Some("2023-01-01")),
      ("http://a/s2.xml", None)))
  }

  // ---- RFC 9309 wildcard rules (* and $) ----

  /** Batch-evaluate the engine matcher over (path, pattern) pairs. */
  private def engineMatches(pairs: Seq[(String, String)]): Seq[Boolean] = {
    val s = spark
    import s.implicits._
    pairs.toDF("path", "prefix")
      .withColumn("parts",
        split(regexp_replace(col("prefix"), "\\$$", ""), "\\*", -1))
      .withColumn("anchored", col("prefix").endsWith("$"))
      .select(Robots.wildcardMatches(col("path"), col("parts"), col("anchored")))
      .collect().map(_.getBoolean(0)).toSeq
  }

  /** Reference semantics: regex translation with full backtracking. */
  private def regexMatches(path: String, pattern: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val pat = if (anchored) pattern.dropRight(1) else pattern
    val rx = pat.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString("(?s).*")
    val m = java.util.regex.Pattern.compile(rx).matcher(path)
    if (anchored) m.matches() else m.lookingAt()
  }

  test("wildcard matcher: the RFC 9309 / Google documentation examples") {
    val vectors = Seq(
      ("/fish", "/fish*", true), ("/fishheads/x", "/fish*", true),
      ("/Fish", "/fish*", false), ("/catfish", "/fish*", false),
      ("/filename.php", "/*.php", true), ("/folder/any.php.file", "/*.php", true),
      ("/", "/*.php", false), ("/windows.PHP", "/*.php", false),
      ("/filename.php", "/*.php$", true), ("/filename.php5", "/*.php$", false),
      ("/filename.php/", "/*.php$", false),
      ("/fish.php", "/fish*.php", true), ("/fishheads/catfish.php?p=1", "/fish*.php", true),
      ("/Fish.PHP", "/fish*.php", false),
      ("/p", "*", true), ("/p", "/p$", true), ("/pq", "/p$", false))
    val got = engineMatches(vectors.map(v => (v._1, v._2)))
    vectors.zip(got).foreach { case ((p, pat, want), g) =>
      assert(g === want, s"path=$p pattern=$pat")
      assert(regexMatches(p, pat) === want, s"regex oracle drifted: $p $pat")
    }
  }

  test("wildcard matcher ≡ regex translation on LCG-fuzzed (path, pattern) pairs") {
    val alphabet = "/ab.p7"
    var s = 12345L
    def nxt(n: Int): Int = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % n).toInt + n) % n }
    def randStr(maxLen: Int, chars: String): String =
      (0 until (1 + nxt(maxLen))).map(_ => chars(nxt(chars.length))).mkString
    val pairs = (0 until 400).map { _ =>
      val path = "/" + randStr(8, alphabet)
      val pat = "/" + randStr(6, alphabet + "**") + (if (nxt(3) == 0) "$" else "")
      (path, pat)
    }
    val got = engineMatches(pairs)
    pairs.zip(got).foreach { case ((p, pat), g) =>
      assert(g === regexMatches(p, pat), s"diverged: path=$p pattern=$pat")
    }
  }

  test("filterAllowed: longest pattern wins, wildcard carve-outs work") {
    val s = spark
    import s.implicits._
    val cands = Seq(
      ("h", "http://h/a/file.php"),
      ("h", "http://h/a/file.php?q=1"),
      ("h", "http://h/a/file.html"),
      ("h", "http://h/priv/x.php")).toDF("host", "url_canon")
    val rules = Seq(
      ("h", "/*.php", false),      // block php anywhere (len 6)
      ("h", "/a/*.php$", true),    // but allow exactly-.php under /a (len 9)
      ("h", "/priv/", false)).toDF("host", "prefix", "allow")
    val kept = Robots.filterAllowed(cands, rules)
      .select("url_canon").collect().map(_.getString(0)).toSet
    // /a/file.php: allow rule (9) beats block (6); the ?q=1 variant is
    // not $-anchored-matchable -> blocked; html passes untouched; priv blocked
    assert(kept === Set("http://h/a/file.php", "http://h/a/file.html"))
  }

  // ---- page-level directives (meta robots + rel=canonical) ----

  private def directiveRows(htmls: Seq[(String, String)]) = {
    val s = spark
    import s.implicits._
    htmls.toDF("url", "html")
  }

  test("metaRobotsHas: both attribute orders, any casing, token-bounded") {
    val df = directiveRows(Seq(
      ("u1", """<meta name="robots" content="noindex, nofollow">"""),
      ("u2", """<META CONTENT="NOFOLLOW" NAME="robots">"""),
      ("u3", """<meta name='robots' content='noindexing,all'>"""),
      ("u4", "<p>no meta</p>")))
    val out = df.select(col("url"),
      Robots.metaRobotsHas(col("html"), "noindex").as("ni"),
      Robots.metaRobotsHas(col("html"), "nofollow").as("nf"))
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(out("u1") === ((true, true)))
    assert(out("u2") === ((false, true)))
    // 'noindexing' must not read as noindex — token boundary
    assert(out("u3") === ((false, false)))
    assert(out("u4") === ((false, false)))
  }

  test("metaRobotsHas fails open on null html (no three-valued-logic row drop)") {
    val s = spark
    import s.implicits._
    val df = Seq(("u1", Option.empty[String]),
      ("u2", Some("""<meta name="robots" content="noindex">""")))
      .toDF("url", "html")
    val kept = Robots.applyPageDirectives(df, "html", "url")
      .select("url").collect().map(_.getString(0)).toSet
    assert(kept === Set("u1"), "null html must be KEPT (no directive), noindex dropped")
  }

  test("canonicalUrl: absolute passes, root-relative resolves, protocol-relative/absent null") {
    val df = directiveRows(Seq(
      ("http://a.com/p", """<link rel="canonical" href="http://b.com/x">"""),
      ("http://a.com/p", """<link href='/c/1' rel='canonical'>"""),
      ("http://a.com/p", """<link rel="canonical" href="//cdn.com/x">"""),
      ("http://a.com/p", "<p>none</p>")))
    val out = df.select(Robots.canonicalUrl(col("html"), col("url")))
      .collect().map(r => Option(r.getString(0)))
    assert(out === Seq(Some("http://b.com/x"), Some("http://a.com/c/1"), None, None))
  }

  test("applyPageDirectives drops noindex, re-keys canonical, flags nofollow — shuffle-free") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      ("http://a.com/1", """<meta name="robots" content="noindex">""", "gone"),
      ("http://a.com/2", """<link rel="canonical" href="http://a.com/2c"><meta name="robots" content="nofollow">""", "rekeyed"),
      ("http://a.com/3", "<p>plain</p>", "kept"))
      .toDF("url", "html", "tag")
    val out = Robots.applyPageDirectives(pages, "html", "url")
    val rows = out.select("tag", "corpus_url", "nofollow").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(!rows.contains("gone"))
    assert(rows("rekeyed") === (("http://a.com/2c", true)))
    assert(rows("kept") === (("http://a.com/3", false)))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no Exchange in:\n$plan")
  }

  test("sitemapRecrawl: new vs stale vs fresh vs unparseable lastmod") {
    val s = spark
    import s.implicits._
    val entries = Seq(
      ("http://a/1", "2024-03-01"),           // captured earlier → stale
      ("http://a/2", "2020-01-01"),           // captured later → fresh, dropped
      ("http://a/3", "2024-03-01 10:30:00"),  // never captured → new
      ("http://a/4", null.asInstanceOf[String]), // no lastmod → dropped
      ("http://a/5", "not-a-date"))           // unparseable → dropped
      .toDF("loc", "lastmod")
    val day2022 = 1640995200000000L // 2022-01-01T00:00:00Z in micros
    val captures = Seq(
      ("http://a/1", day2022),
      ("http://a/2", day2022)).toDF("url", "fetched_us")
    val out = Robots.sitemapRecrawl(entries, "loc", "lastmod",
        captures, "url", "fetched_us")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("http://a/1" -> "stale", "http://a/3" -> "new"))
  }

  test("CounterAccumulator merges executor partials") {
    val acc = new CounterAccumulator()
    spark.sparkContext.register(acc, "spec_counters")
    spark.sparkContext.parallelize(1 to 100, 8).foreach(i => acc.add("g", s"i${i % 2}"))
    assert(acc.value(("g", "i0")) == 50L)
    assert(acc.value(("g", "i1")) == 50L)
  }

  test("sitemap entry split ≡ the lazy-dotall regex on malformed bodies (property)") {
    import org.apache.spark.sql.functions.{col, explode, expr}
    // adversarial shapes: unterminated tails, close-without-open, nested
    // opens inside an entry, empty bodies, newlines, entry-less noise
    val bodies = Seq(
      "<urlset><url><loc>a</loc></url></urlset>",
      "<url>a</url><url>b</url>",
      "<url>a<url>b</url>",                       // nested open: capture 'a<url>b'
      "x</url><url>y</url>",                      // close before any open
      "<url>unclosed",                            // unterminated tail drops
      "<url>a</url>trail<url>b",                  // terminated + unterminated
      "", "no entries at all", "</url></url>",
      "<url>\n multi\nline </url>",
      "<url></url>",                              // empty capture
      "a</url>b</url><url>c</url><url>d</url>x")
    val df = spark.createDataFrame(bodies.zipWithIndex.map(_.swap))
      .toDF("i", "body")
    def collect(e: org.apache.spark.sql.DataFrame): Seq[(Int, String)] =
      e.collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sorted
    val viaRegex = collect(df.select(col("i"), explode(
      expr("regexp_extract_all(body, '(?s)<url>(.*?)</url>', 1)")).as("e")))
    val viaSplit = collect(
      Robots.tagEntries(df, "body", "url").select(col("i"), col("__entry")))
    assert(viaSplit == viaRegex, s"split=$viaSplit regex=$viaRegex")
  }
}
