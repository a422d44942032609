package graft.sources

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.functions.{Extract, UrlCanon}

/** One row of the Common-Crawl-style input table (BASELINE.json input_hint). */
case class Page(url: String, warc_ts: Timestamp, html: Array[Byte], text: String, lang: String)

/**
 * Deterministic synthetic web corpus (FIXTURES.md §A). Every value is a pure
 * function of the page id — no RNG objects, no wall clock — so the corpus is
 * bit-identical across runs, parallelism levels, and the in-memory reference
 * simulator (which shares these functions).
 *
 * Graph: page `id` links to `(A*id + C + k) mod V` for `k in 0 until
 * (id % 4 + 1)` (LCG-style constants), as raw/relative/fragment-bearing
 * hrefs to exercise resolution (P6), fragment stripping (P7), dedup (D1)
 * and the error path (O8, via links to out-of-range ids).
 * Host skew: host0 owns ~30% of pages (mega-domain, J5 salting exercise).
 */
object Fixtures extends Serializable {

  val DefaultV = 1000
  val NHosts = 20
  val EpochSeconds: Long = 1704067200L // 2024-01-01T00:00:00Z

  private val A = 1103515245L
  private val C = 12345L

  /** URL pattern the job accepts (P1); anchors like the reference's wiki app. */
  val UrlPattern = "^http://host[0-9]+\\.example\\.com/p/[0-9]+.*$"

  def hostIdx(id: Long): Int =
    if (id % 10 < 3) 0 else (1 + (id / 10 % (NHosts - 1))).toInt

  /** Raw URL as it would appear in the wild — deterministic canonicalizer
   *  exercises: uppercase scheme/host, default port, unsorted query, fragment. */
  def rawUrl(id: Long): String = {
    val h = hostIdx(id)
    val base =
      if (id % 13 == 0) s"HTTP://Host$h.EXAMPLE.com:80/p/$id"
      else s"http://host$h.example.com/p/$id"
    val q = if (id % 7 == 0) "?b=2&a=1" else ""
    val f = if (id % 11 == 0) s"#sec${id % 3}" else ""
    base + q + f
  }

  /** Canonical URL — the pages-table key ("fetch" joins on this). */
  def canonUrl(id: Long): String = UrlCanon.canonicalize(rawUrl(id))

  def lang(id: Long): String = if (id % 10 == 0) "zh" else "en"

  def warcTs(id: Long): Timestamp = new Timestamp((EpochSeconds + id) * 1000L)

  def linkTargets(id: Long, v: Long): Seq[Long] =
    (0L until (id % 4 + 2)).map(k => math.floorMod(A * (id + k) + C + k * k, v))

  /** Graph link hrefs in document order. k%3 rotates the href form. */
  def graphHrefs(id: Long, v: Long): Seq[String] = {
    val targets = linkTargets(id, v)
    targets.zipWithIndex.map { case (t, k) =>
      if (id % 17 == 0 && k == 0) s"/p/${v + id}" // matches pattern, missing from pages → fetch error (O8)
      else if (k % 3 == 1 && hostIdx(t) == hostIdx(id)) s"/p/$t" // root-relative same-host
      else if (k % 3 == 2) rawUrl(t) + (if (rawUrl(t).contains("#")) "" else "#dup") // fragment duplicate (P7/D1)
      else rawUrl(t)
    }
  }

  private val EnWords: Array[String] = Array(
    "lorem", "ipsum", "dolor", "sit", "amet", "consectetur", "adipiscing",
    "elit", "sed", "do", "eiusmod", "tempor", "incididunt", "labore",
    "dolore", "magna", "aliqua", "enim", "minim", "veniam", "quis",
    "nostrud", "exercitation", "ullamco", "laboris", "nisi", "aliquip",
    "commodo", "consequat", "duis", "aute", "irure", "reprehenderit",
    "voluptate", "velit", "esse", "cillum", "fugiat", "nulla", "pariatur")

  private val ZhWords: Array[String] = Array(
    "数据", "分析", "网络", "爬虫", "调度", "队列", "优先", "级别",
    "页面", "抓取", "链接", "提取", "文本", "内容", "系统", "分布",
    "计算", "存储", "索引", "检索", "流量", "速度", "控制", "重试")

  private def word(id: Long, p: Int, w: Int, zh: Boolean): String = {
    val arr = if (zh) ZhWords else EnWords
    arr(math.floorMod(id * 31 + p * 7 + w * 13, arr.length).toInt)
  }

  def paragraph(id: Long, p: Int): String = {
    val zh = lang(id) == "zh"
    val nWords = 20 + ((id + p) % 30).toInt
    val words = (0 until nWords).map(w => word(id, p, w, zh))
    if (zh) {
      // fullwidth commas every 5 words (exercises the CJK scoring path)
      words.grouped(5).map(_.mkString("")).mkString("，") + "。"
    } else {
      words.grouped(8).map(_.mkString(" ")).mkString(", ") + "."
    }
  }

  def nParagraphs(id: Long): Int = (id % 7 + 2).toInt

  /** Well-formed deterministic page HTML (FIXTURES.md A.1). */
  def htmlFor(id: Long, v: Long): String = {
    val self = canonUrl(id)
    val links = graphHrefs(id, v).zipWithIndex
      .map { case (h, k) => s"""<a href="$h">link $k</a>""" }.mkString(" ")
    val shortPage = id % 97 == 0 // triggers ruthless→safe retry (readability.py:361-365)
    val paras =
      if (shortPage) "<p>Tiny.</p>"
      else (0 until nParagraphs(id)).map(p => s"<p>${paragraph(id, p)}</p>").mkString("\n")
    s"""<html><head><title>Page $id</title>
<meta charset="utf-8"/>
<style>.x{color:red;}</style>
<script type="text/javascript">var t=$id;</script>
</head>
<body>
<div id="header-nav"><a href="$self#self">top</a> <a href="/about">About</a></div>
<div class="nav-links">$links</div>
<div class="content" id="main-article">
<h2>Heading $id</h2>
$paras
</div>
<div class="sidebar"><ul><li><a href="/ads/1">ad one</a></li><li><a href="/ads/2">ad two</a></li></ul></div>
<div class="footer"><p>Copyright footer boilerplate text for synthetic page number $id of the graft corpus.</p></div>
</body></html>"""
  }

  def textFor(id: Long, v: Long): String = Extract.extractText(htmlFor(id, v), canonUrl(id))

  def page(id: Long, v: Long): Page = Page(
    url = canonUrl(id),
    warc_ts = warcTs(id),
    html = htmlFor(id, v).getBytes(java.nio.charset.StandardCharsets.UTF_8),
    text = textFor(id, v),
    lang = lang(id))

  /** Seed list (FIXTURES.md A.2): for each host 0..4, the 2 lowest page ids,
   *  in (host, id) order — raw (non-canonical) URLs, as a crawl would get. */
  def seedIds(v: Long): Seq[Long] = {
    (0 until 5).flatMap { h =>
      Iterator.range(0L, v).filter(id => hostIdx(id) == h).take(2).toSeq
    }
  }

  def seeds(v: Long): Seq[String] = seedIds(v).map(rawUrl)

  /** Distributed pages table of V rows (input_hint schema). */
  def pagesDS(spark: SparkSession, v: Long): Dataset[Page] = {
    import spark.implicits._
    spark.range(0L, v).as[Long].map(id => page(id, v))
  }

  def pagesDF(spark: SparkSession, v: Long): DataFrame = pagesDS(spark, v).toDF()

  /** O8 classed-error corpus: pages with a `fetch_status` column —
   *  id % 13 == 5 pages EXIST but the server errors on them
   *  (fetch_status "server" ≙ ServerError: a 404/500 with a response);
   *  out-of-range link targets stay MISSING from the table ≙ NetworkError.
   *  [[statusMap]] mirrors the column for the simulator. */
  def statusOf(id: Long): String = if (id % 13 == 5) "server" else "ok"

  def pagesWithStatusDF(spark: SparkSession, v: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    pagesDF(spark, v).withColumn("fetch_status",
      when(regexp_extract(col("url"), "/p/([0-9]+)", 1).cast("long") % 13 === 5,
        lit("server")).otherwise(lit("ok")))
  }

  def statusMap(v: Long): Map[String, String] =
    (0L until v).filter(statusOf(_) == "server").map(id => canonUrl(id) -> "server").toMap

  /** Pages without the pre-extracted `text` column (null) — for scale
   *  runs where the golden text is not asserted: page generation is then
   *  O(html) instead of paying a readability extraction per page. */
  def pagesLiteDF(spark: SparkSession, v: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, v).as[Long].map { id =>
      Page(canonUrl(id), warcTs(id),
        htmlFor(id, v).getBytes(java.nio.charset.StandardCharsets.UTF_8),
        null, lang(id))
    }.toDF()
  }

  /**
   * Large-scale synthetic frontier for the headline bench (no HTML —
   * the metric is URLs scheduled+deduped/sec): n candidate rows with
   * deterministic duplicates (~1/3 of rows repeat an earlier URL, the
   * dedup exercise) and the same skewed host distribution.
   */
  /** Deterministic fixture WARC file (gzipped, one gzip MEMBER per
   *  record — Common Crawl's layout) for the `warc_parse` oracle and
   *  WarcSpec: a warcinfo header record, then per seq a `response`
   *  record (HTTP 200, or 404 when seq % 13 == 0) whose body is the
   *  ASCII string `repeat('Body <seq>. ', 1 + seq % 5)`, plus a
   *  `request` record every 7th seq (parse-visible, filtered by the
   *  pages/oracle projection). Every field is a pure function of seq so
   *  DuckDB regenerates the expected rows from `range(n)` alone. */
  def warcFile(n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1 << 16)
    def gzMember(record: Array[Byte]): Unit = {
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(record); gz.finish(); gz.close()
    }
    def record(headers: Seq[(String, String)], payload: Array[Byte]): Array[Byte] = {
      val sb = new StringBuilder("WARC/1.0\r\n")
      (headers :+ ("Content-Length" -> payload.length.toString)).foreach {
        case (k, v) => sb.append(k).append(": ").append(v).append("\r\n")
      }
      sb.append("\r\n")
      sb.toString.getBytes("US-ASCII") ++ payload ++ "\r\n\r\n".getBytes("US-ASCII")
    }
    gzMember(record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> "<urn:uuid:graft-warcinfo>",
      "WARC-Date" -> "2024-03-01T00:00:00Z",
      "Content-Type" -> "application/warc-fields"),
      "software: graft-fixture\r\n".getBytes("US-ASCII")))
    (0 until n).foreach { seq =>
      val url = s"http://host${seq % 20}.example.com/w/$seq"
      val date = f"2024-03-${1 + seq % 28}%02dT${seq % 24}%02d:05:00Z"
      if (seq % 7 == 0) {
        val req = s"GET /w/$seq HTTP/1.1\r\nHost: host${seq % 20}.example.com\r\n\r\n"
          .getBytes("US-ASCII")
        gzMember(record(Seq(
          "WARC-Type" -> "request",
          "WARC-Record-ID" -> s"<urn:uuid:graft-req-$seq>",
          "WARC-Target-URI" -> url,
          "WARC-Date" -> date,
          "Content-Type" -> "application/http; msgtype=request"), req))
      }
      val body = (s"Body $seq. " * (1 + seq % 5)).getBytes("US-ASCII")
      val status = if (seq % 13 == 0) "404 Not Found" else "200 OK"
      val http = (s"HTTP/1.1 $status\r\n" +
        "Content-Type: text/html; charset=UTF-8\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++ body
      gzMember(record(Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> s"<urn:uuid:graft-resp-$seq>",
        "WARC-Target-URI" -> s"<$url>", // angle-bracketed variant (spec errata)
        "WARC-Date" -> date,
        "Content-Type" -> "application/http; msgtype=response"), http))
    }
    out.toByteArray
  }

  def frontierUrls(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n)
      .select(
        org.apache.spark.sql.functions.expr(
          // every 3rd row duplicates the url of row i-2 (dup rate ~1/3)
          "case when id % 3 = 2 then id - 2 else id end").as("uid"),
        org.apache.spark.sql.functions.col("id"))
      .selectExpr(
        // web-realistic host distribution: one mega-host holding 30% of
        // URLs (the J5 skew case salting must absorb) plus a ~100k-host
        // long tail (a 10^10-URL frontier has ~10^7 hosts; a handful of
        // hosts would artificially serialize the per-host politeness rank)
        """concat('http://host',
             cast(case when uid % 10 < 3 then 0 else 1 + (uid div 10) % 99999 end as string),
             '.example.com/p/', cast(uid as string)) as url""",
        "cast(uid % 3 as int) as priority",
        "id as seq")
  }
}
