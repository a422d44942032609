package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.FrontierBenchLike

/** The one per-host politeness gate, [[Politeness.hostEligible]], against
  * a driver-side reference: within each host, rows ranked by
  * (priority, seq) are kept while rank <= coalesce(host budget, default),
  * a host listed twice taking its lowest budget. */
class PolitenessSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private val Mega = "http://mega.example.com"
  private def tail(i: Int) = s"http://tail$i.example.com"

  /** One mega-host (a third of the rows) and 97 tail hosts of ~9 rows. */
  private lazy val cands: DataFrame = FrontierBenchLike.skewed(spark, 1300).cache()

  private def table(rows: (String, Int)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("host", "host_budget")
  }

  /** (host, seq) of every kept row, duplicates kept. */
  private def kept(df: DataFrame): Seq[(String, Long)] =
    df.select("host", "seq").collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

  private def reference(default: Int, perHost: Option[DataFrame]): Seq[(String, Long)] = {
    val budgets = perHost.fold(Map.empty[String, Int])(_.collect()
      .groupBy(_.getString(0)).map { case (h, rs) => h -> rs.map(_.getInt(1)).min })
    cands.select("host", "priority", "seq").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (h, rows) =>
        rows.sortBy(r => (r._2, r._3)).take(budgets.getOrElse(h, default)).map(r => (h, r._3))
      }.sorted
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def caps: DataFrame = Robots.capsFromDelays(Robots.delaysFromTxt(spark, Seq(
      Mega -> "User-agent: *\nCrawl-delay: 30",       // 60/30 = 2
      tail(1) -> "User-agent: *\nCrawl-delay: 90",    // 0 -> 1
      tail(2) -> "User-agent: *\nCrawl-delay: 0.5")), // 120 -> 8
    windowSecs = 60.0, maxK = 8)

  private def tables: Seq[(String, Option[DataFrame])] = Seq(
    "no table" -> None,
    "empty table" -> Some(table()),
    "budgets table" -> Some(table(Mega -> 2, tail(1) -> 1, tail(5) -> 3)),
    "caps table" -> Some(caps),
    "budget above the default" -> Some(table(Mega -> 50, tail(2) -> 6)))

  test("one gate ≡ the per-host window reference: every budget table × salts ∈ {1, 3, 4}") {
    for ((name, perHost) <- tables; salts <- Seq(1, 3, 4)) {
      val out = Politeness.hostEligible(cands, 4, perHost, salts)
      assert(kept(out) == reference(4, perHost), s"$name, salts = $salts")
      // column order is kept: bucketed writes are positional
      assert(out.columns.toSeq == cands.columns.toSeq, s"$name, salts = $salts")
    }
    // named hosts keep their own budget, absent hosts get the default
    val perHost = Politeness.hostEligible(cands, 4, Some(caps)).groupBy("host").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perHost(Mega) == 2 && perHost(tail(1)) == 1 && perHost(tail(2)) == 8)
    assert(perHost.removedAll(Seq(Mega, tail(1), tail(2))).values.forall(_ <= 4))
  }

  test("adaptive branches (no hot host, split, all hot, maxHotHosts = 0) ≡ the reference") {
    val budgets = Some(table(Mega -> 2, tail(1) -> 1))
    // no hot host: every host fits its bound, the input passes through
    val none = Politeness.hostEligible(cands, 1000, None, 3)
    assert(kept(none) == reference(1000, None))
    assert(!plan(none).contains("Window"), plan(none))
    // split: at budget 30 only the mega-host (~433 rows) is hot; cold
    // rows pass an anti-join against the broadcast hot list
    for (perHost <- Seq(None, budgets)) {
      val split = Politeness.hostEligible(cands, 30, perHost, 3)
      assert(kept(split) == reference(30, perHost))
      assert(plan(split).contains("LeftAnti"), plan(split))
    }
    // every host hot: the salted rank over every row, and the hot-host
    // set is never broadcast
    val allHot = Politeness.hostEligible(cands, 1, None, 4)
    assert(kept(allHot) == reference(1, None))
    assert(!plan(allHot).contains("BroadcastExchange"), plan(allHot))
    // maxHotHosts = 0 trips the guard even when the hot set is small
    for (perHost <- Seq(None, budgets)) {
      val tripped = Politeness.hostEligible(cands, 30, perHost, 3, maxHotHosts = 0)
      assert(kept(tripped) == reference(30, perHost))
      assert(!plan(tripped).contains("LeftAnti"), plan(tripped))
    }
  }

  test("no table, salts = 1: the literal window (WindowGroupLimit, no join)") {
    val p = plan(Politeness.hostEligible(cands, 4))
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("Join"), p)
  }

  test("a host listed twice in a budget table keeps its lowest budget, no row duplicated") {
    val dup = Some(table(Mega -> 5, Mega -> 2, tail(3) -> 1, tail(3) -> 1))
    for (salts <- Seq(1, 4)) {
      val out = kept(Politeness.hostEligible(cands, 4, dup, salts))
      assert(out == reference(4, dup), s"salts = $salts")
      assert(out.distinct.size == out.size, s"salts = $salts: duplicated rows")
    }
  }
}
