package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class RedirectsSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def edgesDF(es: Seq[(String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    es.toDF("src", "dst")
  }

  private def resolvedMap(df: DataFrame): Map[String, (String, Long, Boolean)] =
    df.collect().map(r =>
      r.getString(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap

  test("roundsFor covers maxHops in log2 rounds") {
    assert(Redirects.roundsFor(1) === 0)
    assert(Redirects.roundsFor(2) === 1)
    assert(Redirects.roundsFor(3) === 2)
    assert(Redirects.roundsFor(8) === 3)
    assert(Redirects.roundsFor(9) === 4)
    assert(Redirects.roundsFor(32) === 5)
  }

  test("chains resolve to the terminal with exact hop counts") {
    // a→b→c→d (d terminal), plus the independent single hop x→y
    val out = resolvedMap(Redirects.resolve(
      edgesDF(Seq("a" -> "b", "b" -> "c", "c" -> "d", "x" -> "y")),
      "src", "dst"))
    assert(out === Map(
      "a" -> (("d", 3L, false)),
      "b" -> (("d", 2L, false)),
      "c" -> (("d", 1L, false)),
      "x" -> (("y", 1L, false))))
  }

  test("a 30-hop chain resolves within the 32-hop default horizon") {
    val chain = (0 until 30).map(i => s"u$i" -> s"u${i + 1}")
    val out = resolvedMap(Redirects.resolve(edgesDF(chain), "src", "dst"))
    assert(out("u0") === (("u30", 30L, false)))
    assert(out("u29") === (("u30", 1L, false)))
  }

  test("cycles and self-loops are flagged, never resolved to a terminal") {
    val out = resolvedMap(Redirects.resolve(
      edgesDF(Seq("p" -> "q", "q" -> "p", "s" -> "s", "in" -> "p")),
      "src", "dst"))
    assert(out("p")._3 && out("q")._3 && out("s")._3)
    // a chain INTO a cycle is just as dead
    assert(out("in")._3)
  }

  test("a chain deeper than maxHops is flagged like a cycle") {
    val chain = (0 until 10).map(i => s"u$i" -> s"u${i + 1}")
    val out = resolvedMap(Redirects.resolve(edgesDF(chain), "src", "dst",
      maxHops = 4))
    assert(out("u0")._3, "10-hop chain must not claim termination at maxHops=4")
    assert(!out("u9")._3 && out("u9")._1 === "u10")
  }

  test("resolution is invariant under input partitioning") {
    val es = Seq("a" -> "b", "b" -> "c", "c" -> "d", "p" -> "q", "q" -> "p")
    val base = resolvedMap(Redirects.resolve(edgesDF(es), "src", "dst"))
    val shuffled = resolvedMap(Redirects.resolve(
      edgesDF(es).repartition(7), "src", "dst"))
    assert(base === shuffled)
  }

  test("rewriteToTerminal re-keys redirected pages and drops cycle content") {
    val s = spark
    import s.implicits._
    val pages = Seq(("a", "pa"), ("c", "pc"), ("d", "pd"), ("p", "pp"),
      ("z", "pz")).toDF("url", "body")
    val out = Redirects.rewriteToTerminal(pages,
      "url", edgesDF(Seq("a" -> "b", "b" -> "c", "c" -> "d", "p" -> "q", "q" -> "p")),
      "src", "dst")
      .collect().map(r => r.getString(1) -> r.getString(0)).toMap
    // a's and c's content lands on terminal d; p (a cycle member) passes
    // through un-rewritten — its mapping row was dropped; z untouched
    assert(out === Map("pa" -> "d", "pc" -> "d", "pd" -> "d",
      "pp" -> "p", "pz" -> "z"))
  }

  test("resolve regimes agree: driver-local ≡ distributed (chains, cycles, deep tails)") {
    // decade chains 0→1→…→7 with the 8⇄9 two-cycle (the oracle's shape),
    // plus one 40-deep chain that overruns the default 32-hop horizon
    val es = (0 until 50).flatMap { k =>
      if (k % 10 == 7) Seq.empty
      else if (k % 10 == 9) Seq(s"u$k" -> s"u${k - 1}")
      else Seq(s"u$k" -> s"u${k + 1}")
    } ++ (100 until 140).map(k => s"d$k" -> s"d${k + 1}")
    val local = resolvedMap(Redirects.resolve(edgesDF(es), "src", "dst"))
    val dist = resolvedMap(Redirects.resolve(edgesDF(es), "src", "dst",
      localEdgeThreshold = 0L))
    assert(local === dist)
    // the empty edge list, in both regimes (-1 forces the distributed one)
    Seq(SmallGraph.EdgeThreshold, -1L).foreach { t =>
      assert(resolvedMap(Redirects.resolve(edgesDF(Seq.empty), "src", "dst",
        localEdgeThreshold = t)).isEmpty, s"threshold $t")
    }
  }
}
