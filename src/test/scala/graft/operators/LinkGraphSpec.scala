package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class LinkGraphSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def edgesDF(es: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    es.toDF("src", "dst")
  }

  private def ranksMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Spark jobs started while `f` runs, counted by a listener. A marker
   *  job afterwards flushes the listener bus, which delivers in order. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val counted = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("counted") => counted.incrementAndGet()
          case Some("marker") => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("counted", "jobs under test")
      f
      sc.setJobGroup("marker", "listener bus flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      counted.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Exact sequential replay of the integer update rule. */
  private def bruteRank(es: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000L, damping: Int = 85): Map[Long, Long] = {
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val outdeg = es.groupBy(_._1).map { case (s, g) => s -> g.size.toLong }
    val base = (100L - damping) * scale / 100L
    var rank = nodes.map(_ -> scale).toMap
    (0 until iters).foreach { _ =>
      val inflow = es.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => rank(s) / outdeg(s) }.sum
      }
      rank = nodes.map(n => n -> (base + damping * inflow.getOrElse(n, 0L) / 100L)).toMap
    }
    rank
  }

  test("pageRank: hand-computed 3-node graph, 2 iterations") {
    // 1→2, 1→3, 2→1; node 3 dangles (its mass leaks, by the rule)
    val es = Seq((1L, 2L), (1L, 3L), (2L, 1L))
    val r1 = ranksMap(LinkGraph.pageRank(edgesDF(es), "src", "dst", iters = 1))
    assert(r1 == Map(1L -> 1000000L, 2L -> 575000L, 3L -> 575000L))
    val r2 = ranksMap(LinkGraph.pageRank(edgesDF(es), "src", "dst", iters = 2))
    assert(r2 == Map(1L -> 638750L, 2L -> 575000L, 3L -> 575000L))
  }

  test("pageRank: zero iterations returns the initial scale for every node") {
    val es = Seq((1L, 2L), (7L, 9L))
    val r = ranksMap(LinkGraph.pageRank(edgesDF(es), "src", "dst", iters = 0))
    assert(r == Map(1L -> 1000000L, 2L -> 1000000L, 7L -> 1000000L, 9L -> 1000000L))
  }

  test("pageRank ≡ sequential replay on an LCG random graph, 5 iterations") {
    var x = 12345L
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); x }
    val es = (0 until 150).map { _ =>
      val s = math.floorMod(next(), 40L)
      val d = math.floorMod(next(), 40L)
      (s, d)
    }.filter { case (s, d) => s != d }.distinct
    val got = ranksMap(LinkGraph.pageRank(edgesDF(es), "src", "dst", iters = 5))
    assert(got == bruteRank(es, 5))
  }

  test("pageRank is partition-independent") {
    val es = (0L until 60L).map(i => (i % 12, (i * 7 + 3) % 12)).filter(p => p._1 != p._2).distinct
    val one = ranksMap(LinkGraph.pageRank(edgesDF(es).repartition(1), "src", "dst", iters = 4))
    val many = ranksMap(LinkGraph.pageRank(edgesDF(es).repartition(7), "src", "dst", iters = 4))
    assert(one == many)
  }

  // ---- anchorSummary ----

  private def linksDF(ls: Seq[(String, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    ls.toDF("src_host", "dst", "anchor")
  }

  private def summaryMap(df: DataFrame): Map[String, (Long, Long, Long, Option[String], Long)] =
    df.collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.getString(4)), r.getLong(5)))
    }.toMap

  test("anchorSummary: hand-computed — counts, normalization, tie-break, empty anchors") {
    val links = Seq(
      ("h1", "p", "click here"),
      ("h2", "p", "  click \t here "),   // normalizes to the same anchor
      ("h1", "p", "About"),
      ("h2", "p", "about"),              // case-sensitive: distinct anchor
      ("h1", "p", ""),                   // counted in n_links only
      ("h1", "q", "B"),
      ("h2", "q", "A"),                  // tie at n=1 → lexicographic min "A"
      ("h1", "r", ""),                   // all-empty target → null top_anchor
      ("h1", "r", "   "))
    val got = summaryMap(LinkGraph.anchorSummary(linksDF(links), "src_host", "dst", "anchor"))
    assert(got("p") == ((5L, 2L, 3L, Some("click here"), 2L)))
    assert(got("q") == ((2L, 2L, 2L, Some("A"), 1L)))
    assert(got("r") == ((2L, 1L, 0L, None, 0L)))
  }

  /** Sequential replay of the aggregate contract. */
  private def bruteSummary(ls: Seq[(String, String, String)])
      : Map[String, (Long, Long, Long, Option[String], Long)] = {
    val norm = ls.map { case (s, d, a) => (s, d, a.replaceAll("\\s+", " ").trim) }
    norm.groupBy(_._2).map { case (dst, g) =>
      val nonEmpty = g.filter(_._3.nonEmpty)
      val counts = nonEmpty.groupBy(_._3).map { case (a, as) => a -> as.size.toLong }
      val top = counts.toSeq.sortBy { case (a, n) => (-n, a) }.headOption
      dst -> ((g.size.toLong, g.map(_._1).distinct.size.toLong,
        counts.size.toLong, top.map(_._1), top.map(_._2).getOrElse(0L)))
    }
  }

  test("anchorSummary ≡ sequential replay on an LCG random feed; partition-independent") {
    var x = 999L
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); x }
    val vocab = Vector("home", "read  more", "a", "A", "", "Page 1", " Page  1 ")
    val ls = (0 until 400).map { _ =>
      (s"h${math.floorMod(next(), 9L)}", s"d${math.floorMod(next(), 25L)}",
        vocab(math.floorMod(next(), vocab.size.toLong).toInt))
    }
    val expect = bruteSummary(ls)
    val one = summaryMap(LinkGraph.anchorSummary(linksDF(ls).repartition(1),
      "src_host", "dst", "anchor"))
    val many = summaryMap(LinkGraph.anchorSummary(linksDF(ls).repartition(7),
      "src_host", "dst", "anchor"))
    assert(one == expect)
    assert(many == expect)
  }

  test("anchorSummary plans the top-anchor pick as WindowGroupLimit (partial top-1)") {
    val ls = (0 until 50).map(i => (s"h${i % 5}", s"d${i % 3}", s"a${i % 4}"))
    val plan = LinkGraph.anchorSummary(linksDF(ls), "src_host", "dst", "anchor")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  /** Exact sequential replay of the integer OPIC update with the
    * conservation-recovered virtual root. */
  private def bruteOpic(es: Seq[(Long, Long)], iters: Int,
      scale: Long): Map[Long, (Long, Long)] = {
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val outdeg = es.groupBy(_._1).map { case (s, g) => s -> g.size.toLong }
    val n = nodes.size.toLong
    val mass = n * scale
    var cash = nodes.map(_ -> scale).toMap
    var hist = nodes.map(_ -> 0L).toMap
    var virtual = 0L
    (0 until iters).foreach { _ =>
      val topup = virtual / n
      val eff = nodes.map(x => x -> (cash(x) + topup)).toMap
      hist = nodes.map(x => x -> (hist(x) + eff(x))).toMap
      val inflow = es.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => eff(s) / outdeg(s) }.sum
      }
      cash = nodes.map(x => x -> inflow.getOrElse(x, 0L)).toMap
      virtual = mass - cash.values.sum
    }
    nodes.map(x => x -> ((cash(x), hist(x)))).toMap
  }

  private def opicMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("opic: hand-computed 2-node chain — the sink accrues history via the virtual root") {
    // 1→2; node 2 dangles, its cash drains to the virtual root and
    // re-deals to both nodes next round (computed by hand, scale 100):
    // r1: cash (0,100) hist (100,100); r2: cash (0,50) hist (150,250);
    // r3: cash (0,75) hist (225,375)
    val out = opicMap(LinkGraph.opic(edgesDF(Seq((1L, 2L))), "src", "dst",
      iters = 3, scale = 100L))
    assert(out === Map(1L -> ((0L, 225L)), 2L -> ((75L, 375L))))
  }

  test("opic: zero iterations returns initial cash, zero history") {
    val out = opicMap(LinkGraph.opic(edgesDF(Seq((1L, 2L), (7L, 9L))),
      "src", "dst", iters = 0))
    assert(out === Map(1L -> ((1000000L, 0L)), 2L -> ((1000000L, 0L)),
      7L -> ((1000000L, 0L)), 9L -> ((1000000L, 0L))))
  }

  test("opic ≡ sequential brute replay on a mixed graph (cycles + dangling + hub)") {
    val es = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (2L, 4L), (5L, 4L),
      (5L, 1L), (6L, 6L), (6L, 2L))
    (1 to 4).foreach { k =>
      val got = opicMap(LinkGraph.opic(edgesDF(es), "src", "dst", iters = k,
        scale = 1000L))
      assert(got === bruteOpic(es, k, 1000L), s"diverged at iters=$k")
    }
  }

  test("opic conserves total importance: sum(cash) + virtual == n*scale every round") {
    val es = Seq((1L, 2L), (2L, 3L), (4L, 2L))
    val out = opicMap(LinkGraph.opic(edgesDF(es), "src", "dst", iters = 5,
      scale = 1000L))
    val mass = 4L * 1000L
    val circulating = out.values.map(_._1).sum
    assert(circulating >= 0L && circulating <= mass)
    // history grows by at most mass per round (equality iff the virtual
    // remainder is zero), and is positive once anything circulates
    val totalHist = out.values.map(_._2).sum
    assert(totalHist > 0L && totalHist <= 5L * mass)
  }

  test("withHostRank: frontier rows pick up their host's rank, missing hosts rank 0") {
    val s = spark
    import s.implicits._
    val ranks = Seq((1L, 500000L), (2L, 900000L)).toDF("node", "rank")
    val frontier = Seq((1L, "a"), (2L, "b"), (5L, "c")).toDF("host_id", "url")
    val out = LinkGraph.withHostRank(frontier, ranks, "host_id")
      .select("url", "host_rank").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 500000L, "b" -> 900000L, "c" -> 0L))
  }

  test("host components: 25-step cycles mod 500 give 25 residue-class components") {
    val s = spark
    import s.implicits._
    val edges = (0L until 500L).map(i => (i, (i + 25L) % 500L)).toDF("a", "b")
    val comps = TextDedup.duplicateClusters(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size == 500)
    // each node's component representative is its residue mod 25
    comps.foreach { case (id, c) => assert(c == id % 25L, s"node $id → $c") }
    assert(comps.values.toSet == (0L until 25L).toSet)
  }

  test("pageRank regimes agree: driver-local ≡ distributed on an LCG graph") {
    var x = 777L
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); x }
    val es = (0 until 300).map { _ =>
      (math.floorMod(next(), 60L), math.floorMod(next(), 60L))
    }.filter { case (s, d) => s != d }.distinct
    val local = ranksMap(LinkGraph.pageRank(edgesDF(es), "src", "dst", iters = 4))
    val dist = ranksMap(LinkGraph.pageRank(edgesDF(es), "src", "dst", iters = 4,
      localEdgeThreshold = 0L))
    assert(local == dist)
    // the empty edge list, in both regimes (-1 forces the distributed one)
    Seq(SmallGraph.EdgeThreshold, -1L).foreach { t =>
      assert(ranksMap(LinkGraph.pageRank(edgesDF(Seq.empty), "src", "dst", iters = 4,
        localEdgeThreshold = t)).isEmpty, s"threshold $t")
    }
  }

  test("pageRank's driver-local regime runs only the probe's Spark jobs") {
    // 40 persisted edges over 4 partitions (the shape of a cached edge
    // frame, whose row count the optimizer does not know): the limit
    // probe scans the first partition, then the other three
    // (spark.sql.limit.scaleUpFactor 4), and the replay runs no job —
    // no checkpoint, no count()
    val e = spark.range(0, 40, 1, 4)
      .select(col("id").as("src"), ((col("id") * 7 + 3) % 40).as("dst")).persist()
    e.count()
    var ranks = Map.empty[Long, Long]
    val jobs = jobsOf { ranks = ranksMap(LinkGraph.pageRank(e, "src", "dst", iters = 3)) }
    e.unpersist()
    assert(jobs == 2)
    assert(ranks == bruteRank((0L until 40L).map(i => (i, (i * 7 + 3) % 40)), 3))
  }

  test("opic regimes agree: driver-local ≡ distributed on an LCG graph") {
    var x = 999L
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); x }
    val es = (0 until 300).map { _ =>
      (math.floorMod(next(), 50L), math.floorMod(next(), 80L))
    }.filter { case (s, d) => s != d }.distinct
    def m(df: DataFrame): Map[Long, (Long, Long)] =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val local = m(LinkGraph.opic(edgesDF(es), "src", "dst", iters = 5))
    val dist = m(LinkGraph.opic(edgesDF(es), "src", "dst", iters = 5,
      localEdgeThreshold = 0L))
    assert(local == dist)
    // the empty edge list, in both regimes (-1 forces the distributed one)
    Seq(SmallGraph.EdgeThreshold, -1L).foreach { t =>
      assert(m(LinkGraph.opic(edgesDF(Seq.empty), "src", "dst", iters = 5,
        localEdgeThreshold = t)).isEmpty, s"threshold $t")
    }
  }
}
