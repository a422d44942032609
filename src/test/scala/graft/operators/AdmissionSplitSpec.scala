package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** latestRevision (newest-capture-wins collapse), firstSeenInBatch's
  * two aggregate paths, hashSplit
  * (deterministic content-keyed train/val/test assignment), and
  * Blocklist (label-bounded domain-suffix admission). */
class AdmissionSplitSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  // ---- latestRevision ----

  private def captures(): DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      ("http://a.com/1", 10L, 7L, "v1"),
      ("http://a.com/1", 12L, 3L, "v2"), // newest day wins
      ("http://a.com/1", 12L, 9L, "v3"), // same day: higher rec id wins
      ("http://b.com/2", 5L, 1L, "only"),
      ("http://c.com/3", 1L, 1L, "old"),
      ("http://c.com/3", 9L, 2L, "new"))
      .toDF("url", "day", "rec", "payload")
  }

  test("latestRevision keeps exactly the newest capture per key") {
    val out = Dedup.latestRevision(captures(), "url", Seq("day", "rec"))
      .collect().map(r => (r.getString(0), r.getString(3))).toMap
    assert(out === Map(
      "http://a.com/1" -> "v3",
      "http://b.com/2" -> "only",
      "http://c.com/3" -> "new"))
  }

  test("latestRevision result is invariant under input partitioning") {
    val base = Dedup.latestRevision(captures(), "url", Seq("day", "rec"))
      .collect().toSet
    val shuffled = Dedup.latestRevision(captures().repartition(7), "url",
      Seq("day", "rec")).collect().toSet
    assert(base === shuffled)
  }

  test("latestRevision plans the rank-1 filter as WindowGroupLimit (partial top-1)") {
    val plan = Dedup.latestRevision(captures(), "url", Seq("day", "rec"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("latestRevision rejects an empty version order") {
    intercept[IllegalArgumentException] {
      Dedup.latestRevision(captures(), "url", Seq.empty)
    }
  }

  // ---- firstSeenInBatch: per-column vs struct min_by ----

  test("firstSeenInBatch: the HashAggregate and SortAggregate paths keep the same rows") {
    val s = spark
    import s.implicits._
    // 3,000 rows over 150 canons (about 20 copies each), seq unique,
    // fixed-width payloads only
    val rnd = new scala.util.Random(20261020L)
    val seqs = rnd.shuffle((0L until 3000L).toVector)
    val rows = seqs.map { seq =>
      val page = rnd.nextInt(150)
      (s"http://h${page % 7}.com/p/$page", seq, rnd.nextInt(3), rnd.nextInt(5), rnd.nextBoolean())
    }
      .toDF("url_canon", "seq", "priority", "depth", "force")
      .withColumn("url_hash", Dedup.urlHash(col("url_canon")))
      .repartition(4)
    val perColumn = Dedup.firstSeenInBatch(rows, Seq(col("seq")))
    // a constant second order column changes no order but forces the
    // struct min_by the multi-column engine admissions take
    val viaStruct = Dedup.firstSeenInBatch(rows, Seq(col("seq"), lit(0)))
    val expected = perColumn.collect().toSet
    assert(expected.size == rows.select("url_canon").distinct().count())
    assert(viaStruct.collect().toSet == expected)
    def nodes(df: DataFrame, name: String): Int =
      s"\\b$name\\b".r.findAllIn(df.queryExecution.executedPlan.toString).size
    assert(nodes(perColumn, "HashAggregate") > 0 && nodes(perColumn, "SortAggregate") == 0,
      perColumn.queryExecution.executedPlan.toString)
    assert(nodes(viaStruct, "SortAggregate") > 0 && nodes(viaStruct, "HashAggregate") == 0,
      viaStruct.queryExecution.executedPlan.toString)
  }

  // ---- hashSplit ----

  private def docs(n: Int): DataFrame =
    spark.range(n.toLong).select(col("id").as("doc_id"),
      concat(lit("text-"), col("id")).as("text"))

  private val Splits = Seq("train" -> 980, "val" -> 10, "test" -> 10)

  test("hashSplit covers every row, roughly proportionally") {
    val out = Corpus.hashSplit(docs(2000), "doc_id", Splits)
    val byumSplit = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byumSplit.values.sum === 2000L)
    assert(!byumSplit.contains(null))
    assert(byumSplit("train") > 1850L, s"train got ${byumSplit("train")}")
    assert(byumSplit.getOrElse("val", 0L) + byumSplit.getOrElse("test", 0L) > 0L)
    // bucket range is [0, buckets)
    val (lo, hi) = out.agg(min("bucket"), max("bucket")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).head
    assert(lo >= 0L && hi < 1000L)
  }

  test("hashSplit verdict is content-keyed: stable under re-sharding, unlike randomSplit") {
    val a = Corpus.hashSplit(docs(500), "doc_id", Splits)
      .select("doc_id", "bucket", "split").collect().toSet
    val b = Corpus.hashSplit(docs(500).repartition(13), "doc_id", Splits)
      .select("doc_id", "bucket", "split").collect().toSet
    assert(a === b)
    // and stable under appends: the first 500 keys of a 1000-key frame
    // land exactly where they landed alone
    val c = Corpus.hashSplit(docs(1000), "doc_id", Splits)
      .filter(col("doc_id") < 500)
      .select("doc_id", "bucket", "split").collect().toSet
    assert(a === c)
  }

  test("hashSplit salt re-deals the assignment") {
    val a = Corpus.hashSplit(docs(500), "doc_id", Splits)
      .select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Corpus.hashSplit(docs(500), "doc_id", Splits, salt = "v2")
      .select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a !== b)
  }

  test("hashSplit null key gets null bucket and split") {
    val s = spark
    import s.implicits._
    val df = Seq(Some(1L), None).toDF("doc_id")
    val rows = Corpus.hashSplit(df, "doc_id", Splits).collect()
    val nullRow = rows.find(_.isNullAt(0)).get
    assert(nullRow.isNullAt(1) && nullRow.isNullAt(2))
    val someRow = rows.find(!_.isNullAt(0)).get
    assert(!someRow.isNullAt(1) && !someRow.isNullAt(2))
  }

  test("hashSplit rejects a partial bucket cover") {
    intercept[IllegalArgumentException] {
      Corpus.hashSplit(docs(10), "doc_id", Seq("train" -> 900, "val" -> 10))
    }
    intercept[IllegalArgumentException] {
      Corpus.hashSplit(docs(10), "doc_id", Seq("train" -> 1000, "x" -> 0))
    }
  }

  test("hashSplit is shuffle-free (pure projection, no Exchange)") {
    val plan = Corpus.hashSplit(docs(100), "doc_id", Splits)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no Exchange in:\n$plan")
  }

  // ---- Blocklist ----

  private def hostsDF(hs: String*): DataFrame = {
    val s = spark
    import s.implicits._
    hs.toDF("host")
  }

  private def blDF(es: String*): DataFrame = {
    val s = spark
    import s.implicits._
    es.toDF("entry")
  }

  test("hostSuffixes: every dot-suffix, normalized") {
    val out = hostsDF("A.b.Example.com.").select(
      Blocklist.hostSuffixes(col("host"))).collect().head.getSeq[String](0)
    assert(out === Seq("a.b.example.com", "b.example.com", "example.com", "com"))
    val empty = hostsDF("", ".").select(
      Blocklist.hostSuffixes(col("host"))).collect().map(_.getSeq[String](0))
    assert(empty.forall(_.isEmpty))
  }

  test("matching is label-bounded: 'ample.com' never blocks example.com") {
    val verdicts = Blocklist.verdict(
      hostsDF("example.com", "www.example.com", "ample.com"),
      "host", blDF("ample.com"), "entry")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(verdicts === Map(
      "example.com" -> false,      // endsWith would wrongly block this
      "www.example.com" -> false,
      "ample.com" -> true))
  }

  test("an entry blocks itself and every subdomain, nothing else") {
    val verdicts = Blocklist.verdict(
      hostsDF("bad.net", "a.bad.net", "x.y.bad.net", "good.net", "bad.net.evil.org"),
      "host", blDF("bad.net"), "entry")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(verdicts("bad.net") && verdicts("a.bad.net") && verdicts("x.y.bad.net"))
    assert(!verdicts("good.net"))
    // bad.net is a substring but not a label suffix here
    assert(!verdicts("bad.net.evil.org"))
  }

  test("entries normalize like hosts: case, whitespace, trailing dot") {
    val verdicts = Blocklist.verdict(
      hostsDF("tracker.io", "sub.tracker.io"),
      "host", blDF("  Tracker.IO.  "), "entry")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(verdicts("tracker.io") && verdicts("sub.tracker.io"))
  }

  test("admit drops every URL row on a blocked host, keeps the rest") {
    val s = spark
    import s.implicits._
    val urls = Seq(
      ("http://a.bad.net/1", "a.bad.net"),
      ("http://a.bad.net/2", "a.bad.net"),
      ("http://ok.org/1", "ok.org"))
      .toDF("url", "host")
    val kept = Blocklist.admit(urls, "host", blDF("bad.net"), "entry")
      .select("url").collect().map(_.getString(0)).toSet
    assert(kept === Set("http://ok.org/1"))
  }

  test("isBlockedIn (literal-list form): same label-bounded semantics, map-side") {
    val df = hostsDF("bad.net", "a.bad.net", "notbad.net", "ample.com",
      "example.com", null, "")
    val out = df.select(col("host"),
      Blocklist.isBlockedIn(col("host"), Seq(" Bad.NET. ", "ample.com", null, ""))
        .as("b"))
      .collect().map(r => Option(r.getString(0)).getOrElse("∅") -> r.getBoolean(1)).toMap
    assert(out("bad.net") && out("a.bad.net") && out("ample.com"))
    assert(!out("notbad.net") && !out("example.com"))
    assert(!out("∅") && !out(""))
    // empty list short-circuits to constant false
    val none = df.select(Blocklist.isBlockedIn(col("host"), Nil))
      .collect().map(_.getBoolean(0))
    assert(none.forall(_ == false))
    // pure projection: no Exchange in the plan
    val plan = df.filter(!Blocklist.isBlockedIn(col("host"), Seq("bad.net")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no Exchange in:\n$plan")
  }

  test("null or empty hosts are never blocked (documented contract)") {
    val verdicts = Blocklist.verdict(
      hostsDF("bad.net", null, ""),
      "host", blDF("bad.net"), "entry")
      .collect().map(r => Option(r.getString(0)).getOrElse("∅") -> r.getBoolean(1)).toMap
    assert(verdicts("bad.net"))
    assert(!verdicts("∅") && !verdicts(""))
  }

  // ---- PublicSuffix ----

  private def regOf(hs: String*): Map[String, Option[String]] =
    hostsDF(hs: _*).select(col("host"),
        PublicSuffix.registeredDomain(col("host")).as("rd"))
      .collect()
      .map(r => Option(r.getString(0)).getOrElse("∅") -> Option(r.getString(1)))
      .toMap

  test("registeredDomain: exact, multi-label, wildcard, exception, default rules") {
    val out = regOf(
      "example.com", "www.example.com", "a.b.example.co.uk",
      "x.ck", "a.x.ck", "www.ck", "b.www.ck",
      "foo.unknowntld", "com", "co.uk", "ck",
      "Www.Example.CO.UK.", null, "")
    assert(out("example.com") == Some("example.com"))
    assert(out("www.example.com") == Some("example.com"))
    assert(out("a.b.example.co.uk") == Some("example.co.uk"))
    // *.ck: x.ck IS a public suffix; one more label is registrable
    assert(out("x.ck") == None)
    assert(out("a.x.ck") == Some("a.x.ck"))
    // !www.ck beats the wildcard: www.ck itself is registrable
    assert(out("www.ck") == Some("www.ck"))
    assert(out("b.www.ck") == Some("www.ck"))
    // default rule *: unknown TLD is a 1-label public suffix
    assert(out("foo.unknowntld") == Some("foo.unknowntld"))
    // a bare public suffix has no registrable domain
    assert(out("com") == None && out("co.uk") == None && out("ck") == None)
    // normalization: case + trailing dot
    assert(out("Www.Example.CO.UK.") == Some("example.co.uk"))
    assert(out("∅") == None && out("") == None)
  }

  test("publicSuffix matches the prevailing rule per host") {
    val out = hostsDF("a.example.co.uk", "site.com", "x.ck", "www.ck",
        "deep.x.ck", "foo.unknowntld")
      .select(col("host"), PublicSuffix.publicSuffix(col("host")).as("ps"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("a.example.co.uk") == "co.uk")
    assert(out("site.com") == "com")
    assert(out("x.ck") == "x.ck")      // wildcard: the host itself
    assert(out("www.ck") == "ck")      // exception strips to the base
    assert(out("deep.x.ck") == "x.ck")
    assert(out("foo.unknowntld") == "unknowntld")
  }

  test("a multi-label wildcard base never matches itself (PSL rule scope)") {
    // *.kawasaki.jp applies only to hosts with MORE labels than the base;
    // kawasaki.jp itself resolves through 'jp'
    val rules = Seq("jp", "*.kawasaki.jp")
    val out = hostsDF("kawasaki.jp", "a.kawasaki.jp", "b.a.kawasaki.jp")
      .select(col("host"),
        PublicSuffix.registeredDomain(col("host"), rules).as("rd"),
        PublicSuffix.publicSuffix(col("host"), rules).as("ps"))
      .collect().map(r => r.getString(0) -> ((Option(r.getString(1)), r.getString(2)))).toMap
    assert(out("kawasaki.jp") == ((Some("kawasaki.jp"), "jp")))
    assert(out("a.kawasaki.jp") == ((None, "a.kawasaki.jp")))
    assert(out("b.a.kawasaki.jp") == ((Some("b.a.kawasaki.jp"), "a.kawasaki.jp")))
  }

  test("registeredDomain is a pure projection (no Exchange) and groups subdomains") {
    val df = hostsDF("a.s.example.co.uk", "b.s.example.co.uk", "c.example.co.uk")
    val plan = df.select(PublicSuffix.registeredDomain(col("host")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no Exchange in:\n$plan")
    val groups = df.groupBy(PublicSuffix.registeredDomain(col("host")).as("rd"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(groups == Map("example.co.uk" -> 3L))
  }
}
