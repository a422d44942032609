package graft.plans

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.ColaSimulator
import graft.sources.Fixtures

/** The north-rule contract: the engine's crawl ordering, URL-seen set,
  * dead letters and resume behavior must match the independent in-memory
  * reference simulator under the same seed list + politeness budget.
  * Engine runs are shared across assertions (each is ~15 Spark jobs/wave). */
class CrawlJobSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val V = 300L

  private lazy val pagesMap: Map[String, String] =
    (0L until V).map(id => Fixtures.canonUrl(id) -> Fixtures.htmlFor(id, V)).toMap

  private var pagesDF: DataFrame = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    pagesDF = Fixtures.pagesDF(spark, V)
    pagesDF.persist().count()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"crawl-$tag").toString

  private val base = CrawlSettings(
    size = 120, nPriorities = 1, hostBudget = 3, waveCap = 60,
    retries = 1, maxWaves = 30, urlPattern = Fixtures.UrlPattern,
    extract = false, useBloom = false, numBuckets = 8)

  private def runEngine(settings: CrawlSettings, dir: String,
      priorityExpr: Column => Column = _ => lit(0)): (CrawlJob, CrawlSummary) = {
    val job = new CrawlJob(spark, pagesDF, settings, dir, priorityExpr)
    val summary = job.run(Fixtures.seeds(V))
    (job, summary)
  }

  private def runSim(settings: CrawlSettings, priorityOf: String => Int = _ => 0): ColaSimulator = {
    val sim = new ColaSimulator(settings, pagesMap, priorityOf)
    sim.run(Fixtures.seeds(V))
    sim
  }

  private def scheduleTuples(job: CrawlJob): Seq[(Int, Long, String)] =
    job.scheduleTable.select("wave", "rank", "url_canon")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  private def simTuples(sim: ColaSimulator): Seq[(Int, Long, String)] =
    sim.schedule.map(s => (s.wave, s.rank, s.canon)).toSeq

  private def deadPairs(job: CrawlJob): Set[(String, String)] =
    job.deadTable.select("url_canon", "reason")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def seenSet(job: CrawlJob): Set[String] =
    job.seenTable.select("url_canon").collect().map(_.getString(0)).toSet

  /** Σ rows per (wave, stage) of the per-partition lineage. */
  private def lineageSums(job: CrawlJob): Map[(Int, String), Long] =
    job.lineageTable.groupBy("wave", "stage").agg(sum("rows"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap

  /** Per committed wave: Σ candidates = new_urls + deduped, Σ admitted =
    * new_urls, Σ scheduled = the wave's schedule rows. */
  private def assertLineageMatchesWaves(job: CrawlJob): Unit = {
    val sums = lineageSums(job)
    val metrics = job.metricsTable.select("wave", "new_urls", "deduped").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val scheduled = job.scheduleTable.groupBy("wave").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(metrics.nonEmpty && sums.nonEmpty)
    assert(sums.keySet.map(_._1).subsetOf(metrics.keySet), "lineage for an uncommitted wave")
    metrics.foreach { case (w, (nNew, nDeduped)) =>
      assert(sums.getOrElse((w, "candidates"), 0L) == nNew + nDeduped, s"wave $w candidates")
      assert(sums.getOrElse((w, "admitted"), 0L) == nNew, s"wave $w admitted")
      assert(sums.getOrElse((w, "scheduled"), 0L) == scheduled.getOrElse(w, 0L),
        s"wave $w scheduled")
    }
  }

  // ---- shared runs ----
  private lazy val fullRun: (CrawlJob, CrawlSummary) = runEngine(base, tmpDir("full"))
  private lazy val fullSim: ColaSimulator = runSim(base)
  private val extractSettings = base.copy(extract = true, size = 20, waveCap = 20)
  private lazy val extractRun: (CrawlJob, CrawlSummary) = runEngine(extractSettings, tmpDir("ex"))
  // stopped after wave 2, then resumed on the same checkpoint
  private lazy val resumedRun: CrawlJob = {
    val dir = tmpDir("partial")
    runEngine(base.copy(maxWaves = 2), dir)
    runEngine(base, dir)._1
  }

  test("crawl ordering matches the reference simulator (priorities=1, the reference's own e2e config)") {
    assert(scheduleTuples(fullRun._1) == simTuples(fullSim), "schedule order diverged")
  }

  test("URL-seen set and dead letters match the simulator") {
    val engineSeen = fullRun._1.seenTable.select("url_canon").collect().map(_.getString(0)).toSet
    assert(engineSeen == fullSim.seen.toSet, "seen set diverged")
    assert(deadPairs(fullRun._1) == fullSim.dead.toSet, "dead letters diverged")
  }

  test("budget accounting (O4): applied/finished match; finished ≤ size") {
    val summary = fullRun._2
    assert(summary.finished == fullSim.finished)
    assert(summary.applied == fullSim.applied)
    assert(summary.finished <= base.size)
    assert(summary.applied == summary.finished, "error refunds must re-balance applied")
  }

  test("politeness: per (wave, host) scheduled count never exceeds hostBudget") {
    val maxPerHost = fullRun._1.scheduleTable.groupBy("wave", "host").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxPerHost <= base.hostBudget)
  }

  test("dedup: a url_canon is only re-scheduled for retries, never re-discovered") {
    val maxSched = fullRun._1.scheduleTable.groupBy("url_canon").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxSched <= base.retries + 1)
  }

  test("seq is monotone within (wave, priority) schedule order (O3 FIFO)") {
    val rows = fullRun._1.scheduleTable.select("wave", "priority", "rank", "seq")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .groupBy(t => (t._1, t._2))
    rows.values.foreach { grp =>
      val byRank = grp.sortBy(_._3).map(_._4).toSeq
      assert(byRank == byRank.sorted, "seq not FIFO within priority")
    }
  }

  test("lineage partition counts sum to wave schedule totals") {
    val lineage = fullRun._1.lineageTable
    val byLineage = lineage.filter(col("stage") === "scheduled")
      .groupBy("wave").agg(sum("rows").as("rows"))
    val byTable = fullRun._1.scheduleTable.groupBy("wave").count()
    val mismatch = byLineage.join(byTable, Seq("wave"))
      .filter(col("rows") =!= col("count")).count()
    assert(mismatch == 0)
    assert(lineage.count() > 0)
    // every stage of every wave, before and after a resume
    assertLineageMatchesWaves(fullRun._1)
    assertLineageMatchesWaves(resumedRun)
    assert(lineageSums(resumedRun) == lineageSums(fullRun._1))
  }

  test("planBroadcasts: the relations a plan broadcast once it ran, with and without AQE") {
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try Seq("false", "true").foreach { aqe =>
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val small = spark.range(0, 10).selectExpr("cast(id as string) as k")
      val joined = spark.range(0, 1000).selectExpr("cast(id % 20 as string) as k", "id")
        .join(broadcast(small), "k")
      assert(CrawlJob.planBroadcasts(joined.queryExecution.executedPlan).isEmpty, s"aqe=$aqe")
      assert(joined.collect().length == 500)
      assert(CrawlJob.planBroadcasts(joined.queryExecution.executedPlan).size == 1, s"aqe=$aqe")
    } finally spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
  }

  test("adaptive skew politeness equals the plain per-host window (J5)") {
    import graft.operators.Politeness
    // skewed synthetic frontier: one mega-host + a long tail, multi-priority
    val cands = FrontierBenchLike.skewed(spark, 4000)
    val plain = Politeness.hostEligible(cands, 5)
      .select("host", "priority", "seq").collect().map(_.toSeq).toSet
    val adaptive = Politeness.hostEligibleAdaptive(cands, 5, 3)
      .select("host", "priority", "seq").collect().map(_.toSeq).toSet
    assert(adaptive == plain)
    // hot-host rows are clipped to the budget, cold hosts pass untouched
    val perHost = Politeness.hostEligibleAdaptive(cands, 5, 3)
      .groupBy("host").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perHost.values.forall(_ <= 5))
  }

  test("adaptive politeness split path (cold hosts under budget) equals the window") {
    import graft.operators.Politeness
    // budget 30: only the mega-host exceeds it (tail hosts carry ~14 rows
    // at n=1300), so the broadcast split path — not the salted fallback —
    // is exercised and must still equal the plain window
    val cands = FrontierBenchLike.skewed(spark, 1300)
    val plain = Politeness.hostEligible(cands, 30)
      .select("host", "priority", "seq").collect().map(_.toSeq).toSet
    val adaptive = Politeness.hostEligibleAdaptive(cands, 30, 3)
      .select("host", "priority", "seq").collect().map(_.toSeq).toSet
    assert(adaptive == plain)
  }

  test("adaptive politeness with every host hot falls back to salted — no broadcast") {
    import graft.operators.Politeness
    // hostBudget=1 over the skewed frontier: EVERY host exceeds its
    // budget (the r2 hazard: the hot-host set as an unbounded broadcast
    // hint); the bounded decision pass must route to the salted path —
    // same rows as the window, and no broadcast exchange in the plan
    val cands = FrontierBenchLike.skewed(spark, 4000)
    val out = Politeness.hostEligibleAdaptive(cands, 1, 4)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      "every-host-hot input must not broadcast the hot-host set")
    val plain = Politeness.hostEligible(cands, 1)
      .select("host", "priority", "seq").collect().map(_.toSeq).toSet
    assert(out.select("host", "priority", "seq").collect().map(_.toSeq).toSet == plain)
  }

  test("schedule with a driver-known input bound skips quotas with identical output") {
    import graft.operators.Politeness
    val cands = FrontierBenchLike.skewed(spark, 1300)
    val n = cands.count()
    // grant large enough that even the smallest 2^-i quota covers the
    // whole input: the bound proves no quota binds, the histogram pass
    // is skipped, and the output must be row-identical to the full path
    val bigGrant = n * 8 // min quota at 3 priorities ≈ grant/7 ≥ n
    val full = Politeness.schedule(cands, 5, bigGrant, 3)
      .select("host", "priority", "seq").collect().map(_.toSeq).toSet
    val skipped = Politeness.schedule(cands, 5, bigGrant, 3, inputUpperBound = n)
      .select("host", "priority", "seq").collect().map(_.toSeq).toSet
    assert(skipped == full)
    // a binding grant with the same bound must NOT skip: quotas still apply
    val bound = Politeness.schedule(cands, 5, 40, 3, inputUpperBound = n)
      .select("host", "priority", "seq").collect().map(_.toSeq).toSet
    val boundFull = Politeness.schedule(cands, 5, 40, 3)
      .select("host", "priority", "seq").collect().map(_.toSeq).toSet
    assert(bound == boundFull && bound.size <= 40)
  }

  test("O8 per-error-class retry: mixed network/server errors match the simulator") {
    // classed mode: pages with fetch_status — id%13==5 pages error
    // server-side (retries=0 → dead on first failure), missing link
    // targets error network-side (retries=2 → dead on the third failure);
    // the unclassed `retries` knob must be ignored entirely
    val settings = base.copy(retries = 99, networkRetries = 2, serverRetries = 0,
      size = 200, maxWaves = 15)
    val job = new CrawlJob(spark, Fixtures.pagesWithStatusDF(spark, V), settings,
      tmpDir("o8class"))
    val summary = job.run(Fixtures.seeds(V))
    val sim = new ColaSimulator(settings, pagesMap, _ => 0, Some(Fixtures.statusMap(V)))
    sim.run(Fixtures.seeds(V))
    assert(scheduleTuples(job) == simTuples(sim), "classed schedule diverged")
    assert(deadPairs(job) == sim.dead.toSet, "classed dead letters diverged")
    val reasons = deadPairs(job).map(_._2)
    assert(reasons == Set("network_error", "server_error"),
      s"both classes must reach the dead letter table, got $reasons")
    assert(summary.finished == sim.finished && summary.applied == sim.applied)
    // S5 error packs: a server-class dead row carries the error response
    // body (the reference packs e.read() of the ServerError); a network
    // error has no response to pack
    val packs = job.deadTable.alias("dl")
      .join(Fixtures.pagesWithStatusDF(spark, V).alias("p"),
        col("dl.url_canon") === col("p.url"), "left")
      .select(col("dl.reason"), col("dl.content"), col("p.html")).collect()
    assert(packs.nonEmpty)
    packs.foreach { r =>
      if (r.getString(0) == "server_error")
        assert(java.util.Arrays.equals(r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2)),
          "server-class dead row must carry the error response body")
      else assert(r.get(1) == null, "network-class dead row must carry no content")
    }
  }

  test("O8 ignore: exhausted server errors are packed but ignored; ignored network drops silently") {
    // the reference packs server/default exhaustions BEFORE the ignore
    // branch (executor.py:494-502) — an ignored server error still leaves
    // a dead row, marked _ignored; network errors never pack (pack=False),
    // so an IGNORED network exhaustion leaves nothing, while a non-ignored
    // one gets the engine's terminal network_error record
    val settings = base.copy(retries = 99, networkRetries = 1, serverRetries = 0,
      serverIgnore = true, size = 200, maxWaves = 15)
    val job = new CrawlJob(spark, Fixtures.pagesWithStatusDF(spark, V), settings,
      tmpDir("o8ignore"))
    job.run(Fixtures.seeds(V))
    val sim = new ColaSimulator(settings, pagesMap, _ => 0, Some(Fixtures.statusMap(V)))
    sim.run(Fixtures.seeds(V))
    assert(scheduleTuples(job) == simTuples(sim))
    val reasons = deadPairs(job).map(_._2)
    assert(reasons == Set("network_error", "server_error_ignored"),
      s"ignored server errors must be packed with the _ignored mark, got $reasons")
    assert(deadPairs(job) == sim.dead.toSet)
    // ignored-network variant: those exhaustions leave no record at all
    val settings2 = settings.copy(networkIgnore = true)
    val job2 = new CrawlJob(spark, Fixtures.pagesWithStatusDF(spark, V), settings2,
      tmpDir("o8ignore2"))
    job2.run(Fixtures.seeds(V))
    val sim2 = new ColaSimulator(settings2, pagesMap, _ => 0, Some(Fixtures.statusMap(V)))
    sim2.run(Fixtures.seeds(V))
    assert(scheduleTuples(job2) == simTuples(sim2))
    assert(deadPairs(job2).map(_._2) == Set("server_error_ignored"))
    assert(deadPairs(job2) == sim2.dead.toSet)
  }

  test("O8 span: per-class retry delays (span ≙ waves) match the simulator") {
    // network span 3 / server span 2: a failed url sits out its class's
    // delay before the retry is schedulable (executor.py:336-337 sleeps
    // span between tries); waves where everything is inside a delay are
    // idle clock ticks in both engine and simulator
    val settings = base.copy(retries = 99, networkRetries = 2, serverRetries = 1,
      networkSpanWaves = 3, serverSpanWaves = 2, size = 250, maxWaves = 30)
    val job = new CrawlJob(spark, Fixtures.pagesWithStatusDF(spark, V), settings,
      tmpDir("o8span"))
    job.run(Fixtures.seeds(V))
    val sim = new ColaSimulator(settings, pagesMap, _ => 0, Some(Fixtures.statusMap(V)))
    sim.run(Fixtures.seeds(V))
    assert(scheduleTuples(job) == simTuples(sim), "span schedule diverged")
    assert(deadPairs(job) == sim.dead.toSet)
    // a canon scheduled more than once is a retry: every gap respects its
    // class's span, and both classes actually retried in the fixture
    val byCanon = job.scheduleTable.select("url_canon", "wave").collect()
      .map(r => (r.getString(0), r.getInt(1))).groupBy(_._1)
      .collect { case (c, ws) if ws.length > 1 => (c, ws.map(_._2).sorted.toSeq) }
    assert(byCanon.nonEmpty, "fixture must actually retry")
    val serverSet = Fixtures.statusMap(V).keySet
    val gaps = byCanon.map { case (c, ws) =>
      (serverSet.contains(c), ws.sliding(2).map(p => p(1) - p(0)).min)
    }
    gaps.foreach { case (isServer, g) =>
      assert(g >= (if (isServer) 2 else 3),
        s"retry came back before its span: server=$isServer gap=$g")
    }
    assert(gaps.exists(_._1) && gaps.exists(!_._1), "both classes must retry")
    // kill mid-delay and resume: eligible_wave is frontier state, so the
    // resumed run must replay the remaining delays (and any uncommitted
    // idle waves) deterministically
    val partial = tmpDir("o8spanpartial")
    new CrawlJob(spark, Fixtures.pagesWithStatusDF(spark, V),
      settings.copy(maxWaves = 4), partial).run(Fixtures.seeds(V))
    val resumed = new CrawlJob(spark, Fixtures.pagesWithStatusDF(spark, V),
      settings, partial)
    resumed.run(Fixtures.seeds(V))
    assert(scheduleTuples(resumed) == scheduleTuples(job),
      "resume through a retry delay diverged")
  }

  test("O7 adaptive throttling: budget decays to min fetched before banned waves") {
    import graft.operators.Politeness
    val sp = spark
    import sp.implicits._
    // host a: banned at waves 2 and 4 (prev fetched 7 and 4) -> budget 4
    // host b: banned at its first wave -> floor 1
    // host c: never banned -> default 10
    // host d: banned but prev fetched 15 > default -> CAPPED at default
    //         (the reference only ever lowers a rate, speed.py:226-227)
    val m = Seq(
      ("a", 1, 7L, 0L), ("a", 2, 5L, 2L), ("a", 3, 4L, 0L), ("a", 4, 6L, 1L),
      ("b", 1, 9L, 3L), ("b", 2, 8L, 0L),
      ("c", 1, 2L, 0L),
      ("d", 1, 15L, 0L), ("d", 2, 12L, 1L))
      .toDF("host", "wave", "fetched", "errors")
    val out = Politeness.adaptiveHostBudgets(m, defaultBudget = 10)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("a" -> 4, "b" -> 1, "c" -> 10, "d" -> 10))
  }

  test("O7 budget gate: decayed per-host budgets bound the next run's schedule") {
    import graft.operators.Politeness
    val sp = spark
    import sp.implicits._
    val cands = FrontierBenchLike.skewed(spark, 900)
    val mega = "http://mega.example.com"
    val budgets = Seq((mega, 2)).toDF("host", "host_budget")
    val out = Politeness.hostEligibleBudgets(cands, budgets, defaultBudget = 4)
      .groupBy("host").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out(mega) == 2)
    assert(out.filterNot(_._1 == mega).values.forall(_ <= 4))
    // matches the fixed-budget window when every budget equals the default
    val fixed = Politeness.hostEligible(cands, 4)
      .select("host", "seq").collect().map(_.toSeq).toSet
    val viaTable = Politeness.hostEligibleBudgets(cands, budgets.limit(0), 4)
      .select("host", "seq").collect().map(_.toSeq).toSet
    assert(fixed == viaTable)
    // the scale paths are output-identical to the plain window gate: the
    // salted column-bound rank, and the adaptive hot/cold split (both the
    // collected-hot-list plan and the salted fallback under a tiny
    // maxHotHosts) — a decayed-budgets run keeps the J5 skew treatment
    val plain = Politeness.hostEligibleBudgets(cands, budgets, 4)
      .select("host", "seq").collect().map(_.toSeq).toSet
    val saltedB = Politeness.hostEligibleBudgetsSalted(cands, budgets, 4, salts = 4)
      .select("host", "seq").collect().map(_.toSeq).toSet
    assert(saltedB == plain, "salted column-bound rank diverged")
    val adaptiveB = Politeness.hostEligibleBudgetsAdaptive(cands, budgets, 4, salts = 4)
      .select("host", "seq").collect().map(_.toSeq).toSet
    assert(adaptiveB == plain, "adaptive hot/cold budget split diverged")
    val fallbackB = Politeness.hostEligibleBudgetsAdaptive(cands, budgets, 4,
        salts = 4, maxHotHosts = 0)
      .select("host", "seq").collect().map(_.toSeq).toSet
    assert(fallbackB == plain, "salted fallback (guard tripped) diverged")
    // column order is preserved (bucketed writes are positional)
    assert(Politeness.hostEligibleBudgetsAdaptive(cands, budgets, 4, salts = 4)
      .columns.toSeq == cands.columns.toSeq)
  }

  test("O7 budget gate: broadcast hint is count-guarded (VERDICT r3 #2)") {
    import graft.operators.Politeness
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val sp = spark
    import sp.implicits._
    val cands = FrontierBenchLike.skewed(spark, 300)
    val budgets = Seq(("http://mega.example.com", 2), ("http://h1.example.com", 3),
      ("http://h2.example.com", 5)).toDF("host", "host_budget")
    def hasHint(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst { case h: ResolvedHint => h }.isDefined
    // under the bound: the hint is present and the runtime plan broadcasts
    val small = Politeness.hostEligibleBudgets(cands, budgets, 4)
    assert(hasHint(small), "bounded budgets table should carry the broadcast hint")
    small.count()
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(smallPlan.contains("BroadcastHashJoin"),
      s"bounded budgets join did not broadcast:\n$smallPlan")
    // above the bound: NO hint — Spark obeys hints even at OOM size, so an
    // unbounded per-host table must reach the planner unhinted (AQE may
    // still pick broadcast from actual runtime bytes; that is its own
    // size check, not an obligation)
    val large = Politeness.hostEligibleBudgets(cands, budgets, 4, maxBroadcastHosts = 1)
    assert(!hasHint(large), "over-bound budgets table must not be hint-broadcast")
    // and the guard changes nothing about the output
    assert(small.select("host", "seq").collect().map(_.toSeq).toSet ==
      large.select("host", "seq").collect().map(_.toSeq).toSet)
  }

  test("O7 wired end-to-end: run-1 banned windows decay budgets gating run 2 (sim ≡)") {
    import graft.operators.Politeness
    val sp = spark
    import sp.implicits._
    // phase 1: a classed run (id%13==5 pages error server-side) with
    // per-(wave, host) metrics on — the banned-window evidence
    val settings = base.copy(retries = 99, networkRetries = 2, serverRetries = 3,
      size = 200, maxWaves = 15, hostMetrics = true)
    val job1 = new CrawlJob(spark, Fixtures.pagesWithStatusDF(spark, V), settings,
      tmpDir("o7run1"))
    job1.run(Fixtures.seeds(V))
    val sim1 = new ColaSimulator(settings, pagesMap, _ => 0, Some(Fixtures.statusMap(V)))
    sim1.run(Fixtures.seeds(V))
    // the engine's committed host metrics ≡ the simulator's
    val engMetrics = job1.hostMetricsTable
      .collect().map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(engMetrics == sim1.hostMetrics.toMap, "host metrics diverged")
    assert(engMetrics.values.exists(_._2 > 0), "fixture must produce banned windows")

    // decay: engine side through the shipped operator; sim side through an
    // independent fold implementing the same rule (min fetched in the
    // host's metric row immediately before each banned row; floor 1,
    // capped at the default — the reference only lowers rates)
    val budgetsDf = Politeness.adaptiveHostBudgets(
      job1.hostMetricsTable, defaultBudget = settings.hostBudget)
    val engBudgets = budgetsDf.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val simBudgets: Map[String, Int] = sim1.hostMetrics.toSeq
      .map { case ((w, h), (f, e)) => (h, w, f, e) }
      .groupBy(_._1)
      .flatMap { case (h, rows0) =>
        val rows = rows0.sortBy(_._2)
        val minBefore = rows.zipWithIndex.collect {
          case ((_, _, _, e), i) if e > 0 => if (i == 0) 1L else rows(i - 1)._3
        }
        if (minBefore.isEmpty) None
        else Some(h -> math.max(1L, math.min(settings.hostBudget.toLong, minBefore.min)).toInt)
      }
    assert(engBudgets.filter(_._2 != settings.hostBudget) == simBudgets,
      "decayed budgets diverged from the independent decay fold")
    assert(simBudgets.nonEmpty, "decay must actually bind for the test to mean anything")

    // phase 2: both sides crawl again under the decayed budgets
    val job2 = new CrawlJob(spark, Fixtures.pagesWithStatusDF(spark, V), settings,
      tmpDir("o7run2"), hostBudgets = Some(budgetsDf))
    val summary2 = job2.run(Fixtures.seeds(V))
    val sim2 = new ColaSimulator(settings, pagesMap, _ => 0,
      Some(Fixtures.statusMap(V)), hostBudgetOf = simBudgets)
    sim2.run(Fixtures.seeds(V))
    assert(scheduleTuples(job2) == simTuples(sim2), "run-2 schedule diverged under decayed budgets")
    assert(deadPairs(job2) == sim2.dead.toSet)
    assert(summary2.finished == sim2.finished && summary2.applied == sim2.applied)
    // the gate actually binds: each decayed host never exceeds its budget
    val perWaveHost = job2.scheduleTable.groupBy("wave", "host").count()
      .collect().map(r => (r.getString(1), r.getLong(2)))
    perWaveHost.foreach { case (h, n) =>
      assert(n <= engBudgets.getOrElse(h, settings.hostBudget),
        s"host $h scheduled $n rows over its decayed budget")
    }
    // and run 2 differs from run 1 (the decay changed the crawl)
    assert(scheduleTuples(job2) != scheduleTuples(job1),
      "decayed budgets should change the schedule on this fixture")
  }

  test("bloom pre-filter + salted politeness change nothing (identical schedule)") {
    val (job, _) = runEngine(base.copy(useBloom = true, bloomCapacity = 4096, salts = 4),
      tmpDir("bloomsalt"))
    assert(scheduleTuples(job) == scheduleTuples(fullRun._1))
    assert(job.seenTable.count() == fullRun._1.seenTable.count())
  }

  test("cuckoo seen-filter changes nothing (identical schedule to bloom and to off)") {
    // the end-to-end counterpart of CuckooSpec's store equivalence: the
    // whole wave loop with kind=cuckoo must schedule EXACTLY what the
    // filterless run schedules (the pre-filter only routes rows)
    val (job, _) = runEngine(
      base.copy(useBloom = true, seenFilter = "cuckoo", bloomCapacity = 4096, salts = 4),
      tmpDir("cuckoosalt"))
    assert(scheduleTuples(job) == scheduleTuples(fullRun._1))
    assert(job.seenTable.count() == fullRun._1.seenTable.count())
  }

  test("multi-priority quotas ∝ 2^-i match the simulator (priorities=3)") {
    val settings = base.copy(nPriorities = 3, waveCap = 30, size = 90)
    val pExprEngine = (c: Column) =>
      coalesce(pmod(regexp_extract(c, "/p/([0-9]+)", 1).cast("long"), lit(3)), lit(0)).cast("int")
    val pOfSim = (canon: String) =>
      "/p/([0-9]+)".r.findFirstMatchIn(canon).map(_.group(1).toLong % 3).getOrElse(0L).toInt
    val (job, _) = runEngine(settings, tmpDir("p3"), pExprEngine)
    val sim = runSim(settings, pOfSim)
    assert(scheduleTuples(job) == simTuples(sim), "multi-priority schedule diverged")
    // all three priorities actually exercised
    val ps = job.scheduleTable.select("priority").distinct().collect().map(_.getInt(0)).toSet
    assert(ps == Set(0, 1, 2))
  }

  test("P2 multi-parser dispatch matches the simulator (leaf parser pages don't expand)") {
    import graft.operators.ParserRule
    // ordered rules over the raw url: single-digit hosts → article parser
    // (outlinks followed), everything else → leaf parser (fetched, not
    // expanded) — first match wins, like cola/core/urls.py:62-73
    val settings = base.copy(parsers = Seq(
      ParserRule("^http://host[0-9]\\.example\\.com/p/[0-9]+.*$", "extract"),
      ParserRule(Fixtures.UrlPattern, "leaf")))
    val (job, _) = runEngine(settings, tmpDir("p2"))
    val sim = runSim(settings)
    assert(scheduleTuples(job) == simTuples(sim), "multi-parser schedule diverged")
    assert(job.seenTable.count() == sim.seen.size.toLong)
    // the dispatch bites: schedule differs from the single-parser run and
    // double-digit (leaf) hosts do get fetched
    assert(scheduleTuples(job) != scheduleTuples(fullRun._1))
    val hosts = job.scheduleTable.select("host").distinct().collect().map(_.getString(0)).toSet
    assert(hosts.exists(_.matches("host[0-9]{2}\\.example\\.com")), s"no leaf host scheduled: $hosts")
  }

  test("F2/F3 bundles: labeled discovery expands member urls, dedups by label (sim-pinned)") {
    import graft.operators.BundleSpec
    val v = V
    // outlinks to pages whose id ends in 0 discover the bundle labeled
    // with that id; its members are two generated pages (≙ a weibo user
    // bundle expanding to that user's timeline urls). (Ends-in-0 because
    // the fixture graph's LCG only produces targets ≡ {0,1,4,9,10} mod 15.)
    val bs = BundleSpec("/p/([0-9]*0)$", label => {
      val id = label.toLong
      Seq(Fixtures.rawUrl((id * 7 + 1) % v), Fixtures.rawUrl((id * 7 + 2) % v))
    })
    val settings = base.copy(bundles = Some(bs))
    val (job, _) = runEngine(settings, tmpDir("bundles"))
    val sim = runSim(settings)
    assert(scheduleTuples(job) == simTuples(sim), "bundle schedule diverged")
    assert(job.seenTable.count() == sim.seen.size.toLong)
    // the bundle channel actually fired: labels entered the seen set,
    // members entered the frontier tagged with their bundle
    assert(job.seenTable.filter(col("url_canon").startsWith("bundle://")).count() > 0)
    assert(sim.seen.exists(_.startsWith("bundle://")))
    assert(scheduleTuples(job) != scheduleTuples(fullRun._1))
  }

  test("F2/F3 bundle failure: a non-ignored exhausted member poisons its bundle (sim-pinned)") {
    import graft.operators.BundleSpec
    val v = V
    // one member url (mid-bundle) is missing from the pages table: with
    // retries=0 it exhausts in its schedule wave, which fails the WHOLE
    // bundle (UnitRetryFailed, executor.py:503-506) — members still
    // queued (12 members per bundle vs waveCap 16, so member runs span
    // wave boundaries) must be withheld and recorded as bundle_blocked,
    // identically in engine and simulator
    val bs = BundleSpec("/p/([0-9]*0)$", label => {
      val id = label.toLong
      (1 to 11).map(k => if (k == 6) Fixtures.rawUrl(2 * v + id)
        else Fixtures.rawUrl((id * 7 + k) % v))
    })
    val settings = base.copy(bundles = Some(bs), retries = 0, hostBudget = 10,
      waveCap = 16, size = 200)
    val (job, _) = runEngine(settings, tmpDir("bundlefail"))
    val sim = runSim(settings)
    assert(scheduleTuples(job) == simTuples(sim), "poisoned-bundle schedule diverged")
    assert(deadPairs(job) == sim.dead.toSet, "poisoned-bundle dead letters diverged")
    val blocked = deadPairs(job).filter(_._2 == "bundle_blocked")
    assert(blocked.nonEmpty, "fixture must actually block bundle members")
    // a blocked member never appears in the schedule after its block wave
    val blockWave = job.deadTable.filter(col("reason") === "bundle_blocked")
      .select("url_canon", "wave").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val lateSched = job.scheduleTable.select("url_canon", "wave").collect()
      .filter(r => blockWave.get(r.getString(0)).exists(bw => r.getInt(1) > bw))
    assert(lateSched.isEmpty, "blocked members were scheduled after the bundle failed")
  }

  test("O10 in-bundle error_urls: ignore-exhausted members retry at the inc pass, poisoned labels stay withheld (sim-pinned)") {
    import graft.operators.BundleSpec
    // bundles labeled by pages ending in 0; member k=3 is a server-class
    // page (id % 13 == 5 → fetch_status "server"; serverRetries=0 +
    // serverIgnore=true → exhausted-ignored at first attempt, joining the
    // bundle's error_urls, executor.py:500-501). A third of labels
    // also carry an out-of-range member (missing page ≙ NetworkError,
    // networkRetries=0, non-ignored → UnitRetryFailed poisons that
    // bundle). The single O9 inc pass then re-pops every bundle: error
    // members of live bundles are re-fetched (executor.py:559-560), a
    // poisoned bundle's error members never are.
    val v = V
    val bs = BundleSpec("/p/([0-9]*0)$", label => {
      val id = label.toLong
      (1 to 6).map { k =>
        if (k == 3) Fixtures.rawUrl(((id / 10) % 23) * 13 + 5)
        else if (k == 5 && (id / 10) % 5 == 0) Fixtures.rawUrl(2 * v + id)
        else Fixtures.rawUrl((id * 7 + k) % v)
      }
    })
    val settings = base.copy(
      size = -1, waveCap = 24, hostBudget = 4, maxWaves = 40,
      retries = 99, serverRetries = 0, serverIgnore = true, networkRetries = 0,
      incPasses = 1, bundles = Some(bs))
    val job = new CrawlJob(spark, Fixtures.pagesWithStatusDF(spark, V), settings,
      tmpDir("errorurls"))
    job.run(Fixtures.seeds(V))
    val sim = new ColaSimulator(settings, pagesMap, _ => 0, Some(Fixtures.statusMap(V)))
    sim.run(Fixtures.seeds(V))
    assert(scheduleTuples(job) == simTuples(sim), "error_urls schedule diverged")
    assert(deadPairs(job) == sim.dead.toSet, "error_urls dead letters diverged")

    // the fixture exercised both paths: live-bundle error members were
    // re-scheduled in the inc pass, poisoned-label members were not
    val err = job.errorIncTable
    val tombstoned = err.filter(col("poisoned"))
      .select("bundle").collect().map(_.getString(0)).toSet
    assert(tombstoned.nonEmpty, "fixture must poison at least one bundle")
    val errCanons = err.filter(!col("poisoned"))
      .select("url_canon", "bundle").collect()
      .map(r => (r.getString(0), r.getString(1))).distinct
    val (heldCanons, liveCanons) = errCanons.partition(e => tombstoned(e._2))
    assert(liveCanons.nonEmpty, "fixture must exhaust an ignored member of a live bundle")
    assert(heldCanons.nonEmpty, "fixture must exhaust an ignored member of a poisoned bundle")
    val schedCount = job.scheduleTable.groupBy("url_canon").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    liveCanons.foreach { case (c, _) =>
      assert(schedCount(c) == 2L, s"live error member $c: expected inc retry") }
    heldCanons.filterNot(h => liveCanons.exists(_._1 == h._1)).foreach { case (c, _) =>
      assert(schedCount(c) == 1L, s"poisoned error member $c must not retry") }
  }

  test("all features combined ≡ simulator (priorities × dispatch × bundles × classed errors × ignore × salts × bloom × inc)") {
    import graft.operators.{BundleSpec, ParserRule}
    val v = V
    // every engine feature at once — interactions, not just the pairwise
    // paths the focused tests pin: 3 priorities from the url id, two
    // parser rules (single-digit hosts extract, the rest are hub pages),
    // 7-member bundles with a mid-bundle network-failing member
    // (networkRetries=1, non-ignored → poisons the bundle two waves in),
    // server errors ignored-after-pack, salted politeness, bloom
    // pre-filter, and one automated inc re-crawl pass
    val bs = BundleSpec("/p/([0-9]*0)$", label => {
      val id = label.toLong
      (1 to 7).map(k => if (k == 4) Fixtures.rawUrl(2 * v + id)
        else Fixtures.rawUrl((id * 7 + k) % v))
    })
    val settings = base.copy(
      size = -1, waveCap = 24, hostBudget = 4, maxWaves = 40,
      nPriorities = 3,
      retries = 99, networkRetries = 1, serverRetries = 0, serverIgnore = true,
      salts = 3, useBloom = true, bloomCapacity = 4096,
      incPasses = 1,
      parsers = Seq(
        ParserRule("^http://host[0-9]\\.example\\.com/p/[0-9]+.*$", "extract"),
        ParserRule(Fixtures.UrlPattern, "links")),
      bundles = Some(bs))
    val pExprEngine = (c: Column) =>
      coalesce(pmod(regexp_extract(c, "/p/([0-9]+)", 1).cast("long"), lit(3)), lit(0)).cast("int")
    val pOfSim = (canon: String) =>
      "/p/([0-9]+)".r.findFirstMatchIn(canon).map(_.group(1).toLong % 3).getOrElse(0L).toInt
    val job = new CrawlJob(spark, Fixtures.pagesWithStatusDF(spark, V), settings,
      tmpDir("combined"), pExprEngine)
    val summary = job.run(Fixtures.seeds(V))
    val sim = new ColaSimulator(settings, pagesMap, pOfSim, Some(Fixtures.statusMap(V)))
    sim.run(Fixtures.seeds(V))
    assert(scheduleTuples(job) == simTuples(sim), "combined-config schedule diverged")
    assert(deadPairs(job) == sim.dead.toSet, "combined-config dead letters diverged")
    assert(job.seenTable.count() == sim.seen.size.toLong)
    assert(summary.finished == sim.finished && summary.applied == sim.applied)
    // the fixture exercises what it claims to: every priority scheduled,
    // bundles fired and at least one was poisoned, both ignore paths hit
    val ps = job.scheduleTable.select("priority").distinct().collect().map(_.getInt(0)).toSet
    assert(ps == Set(0, 1, 2))
    val reasons = deadPairs(job).map(_._2)
    assert(reasons.contains("bundle_blocked") && reasons.contains("server_error_ignored")
      && reasons.contains("network_error"), s"missing an error path: $reasons")
  }

  test("randomized-config sweep: engine ≡ simulator on 4 seeded LCG configs (property)") {
    import graft.operators.{BundleSpec, ParserRule}
    val v = V
    var s = 0xBADC0FFEE0DDF00DL
    def nx(n: Int): Int = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % n).toInt + n) % n }
    val bs = BundleSpec("/p/([0-9]*0)$", label => {
      val id = label.toLong
      (1 to 7).map(k => if (k == 4) Fixtures.rawUrl(2 * v + id)
        else Fixtures.rawUrl((id * 7 + k) % v))
    })
    val twoRules = Seq(
      ParserRule("^http://host[0-9]\\.example\\.com/p/[0-9]+.*$", "extract"),
      ParserRule(Fixtures.UrlPattern, "links"))
    (1 to 4).foreach { cfg =>
      val nPrio = 1 + nx(3)
      val settings = base.copy(
        size = Seq(-1L, 100L, 160L)(nx(3)),
        waveCap = 16L + nx(4) * 8L,
        hostBudget = 2 + nx(4),
        nPriorities = nPrio,
        retries = nx(3),
        networkRetries = nx(3) - 1,
        serverRetries = nx(3),
        networkIgnore = nx(2) == 1,
        serverIgnore = nx(2) == 1,
        retrySpanWaves = 1 + nx(2),
        networkSpanWaves = 1 + nx(2),
        serverSpanWaves = 1 + nx(2),
        maxWaves = 25,
        salts = 1 + nx(3),
        useBloom = nx(2) == 1, bloomCapacity = 4096,
        seenFilter = if (nx(2) == 1) "cuckoo" else "bloom",
        incPasses = nx(2),
        parsers = if (nx(2) == 1) twoRules else Seq.empty,
        bundles = if (nx(2) == 1) Some(bs) else None)
      val pExprEngine = (c: Column) =>
        if (nPrio == 1) lit(0)
        else coalesce(pmod(regexp_extract(c, "/p/([0-9]+)", 1).cast("long"),
          lit(nPrio)), lit(0)).cast("int")
      val pOfSim = (canon: String) =>
        if (nPrio == 1) 0
        else "/p/([0-9]+)".r.findFirstMatchIn(canon)
          .map(_.group(1).toLong % nPrio).getOrElse(0L).toInt
      val job = new CrawlJob(spark, Fixtures.pagesWithStatusDF(spark, V), settings,
        tmpDir(s"rand$cfg"), pExprEngine)
      val summary = job.run(Fixtures.seeds(V))
      val sim = new ColaSimulator(settings, pagesMap, pOfSim, Some(Fixtures.statusMap(V)))
      sim.run(Fixtures.seeds(V))
      val tag = s"config $cfg: $settings"
      assert(scheduleTuples(job) == simTuples(sim), s"schedule diverged — $tag")
      assert(deadPairs(job) == sim.dead.toSet, s"dead letters diverged — $tag")
      assert(job.seenTable.count() == sim.seen.size.toLong, s"seen diverged — $tag")
      assert(summary.finished == sim.finished && summary.applied == sim.applied,
        s"budget accounting diverged — $tag")
    }
  }

  test("P4 blank/garbage seeds are dropped (engine ≡ simulator ≡ clean run)") {
    val settings = base.copy(maxWaves = 2)
    val noisy = Seq("", "   ", "\t") ++ Fixtures.seeds(V) ++
      Seq("not-a-url", "http://other.domain.example.org/x")
    val job = new CrawlJob(spark, pagesDF, settings, tmpDir("p4"))
    job.run(noisy)
    val simNoisy = new ColaSimulator(settings, pagesMap); simNoisy.run(noisy)
    val simClean = new ColaSimulator(settings, pagesMap); simClean.run(Fixtures.seeds(V))
    assert(simTuples(simNoisy) == simTuples(simClean), "noise changed the sim schedule")
    assert(scheduleTuples(job) == simTuples(simNoisy), "engine diverged on noisy seeds")
    assert(scheduleTuples(job).nonEmpty)
  }

  test("O9/D5 automated inc re-crawl matches the simulator (force rows pass the seen gate)") {
    // small budgetless crawl so the frontier drains, then one inc pass:
    // every finished unit must be re-scheduled in first-finish FIFO order
    // at the lowest priority, despite being in the seen set (force=true)
    val settings = base.copy(size = -1, waveCap = 25, hostBudget = 10,
      maxWaves = 40, incPasses = 1)
    val (job, summary) = runEngine(settings, tmpDir("inc"))
    val sim = runSim(settings)
    assert(scheduleTuples(job) == simTuples(sim), "inc re-crawl schedule diverged")
    // the pass actually happened: canons scheduled more than once exist,
    // and the seen set did NOT grow from the re-crawl
    val perCanon = job.scheduleTable.groupBy("url_canon").count()
    assert(perCanon.filter(col("count") > 1).count() > 0, "no unit was re-crawled")
    assert(job.seenTable.count() == sim.seen.size.toLong)
  }

  test("O9 resume does not replay an already-consumed inc pass") {
    val settings = base.copy(size = -1, waveCap = 25, hostBudget = 10,
      maxWaves = 40, incPasses = 1)
    val fullDir = tmpDir("incfull")
    val (fullJob, _) = runEngine(settings, fullDir)
    // locate the wave whose commit consumed the pass (manifest-recorded)
    val fullCkpt = new Checkpoint(spark, fullDir, base.numBuckets)
    val reseedWave = fullCkpt.committedWaves.sorted
      .find(w => fullCkpt.manifest(w).getOrElse("m.inc_seeded", "0").toLong > 0)
    assert(reseedWave.nonEmpty, "fixture must actually trigger an inc pass")
    // kill AFTER the pass was consumed, then resume: the manifest's
    // incPassesUsed must prevent a second reseed
    val partial = tmpDir("incpartial")
    runEngine(settings.copy(maxWaves = reseedWave.get + 1), partial)
    val (resumed, _) = runEngine(settings, partial)
    assert(scheduleTuples(resumed) == scheduleTuples(fullJob),
      "resume replayed or lost an inc pass")
    assert(resumed.seenTable.count() == fullJob.seenTable.count())
  }

  test("resume from checkpoint: killed run continues without re-fetch or reorder") {
    assert(scheduleTuples(resumedRun) == scheduleTuples(fullRun._1), "resume reordered the crawl")
    assert(resumedRun.seenTable.count() == fullRun._1.seenTable.count())
    // crash points inside a wave commit: the run dies right after one of
    // the wave's writes (or just before its manifest), leaving that
    // wave's partial outputs on disk; the resumed run must drop them and
    // end exactly where the uninterrupted run and the simulator do. The
    // bloom filter is on so its delta write is one of the points.
    val settings = base.copy(useBloom = true, bloomCapacity = 4096)
    val (whole, wholeSummary) = runEngine(settings, tmpDir("whole"))
    val simScheduled = fullSim.schedule.groupBy(_.wave).map { case (w, s) => w -> s.size.toLong }
    assert(scheduleTuples(whole) == simTuples(fullSim))
    final class Crash(point: String) extends RuntimeException(point)
    Seq("fetched", "seen", "dead", "bloom", "frontier", "manifest").foreach { point =>
      val dir = tmpDir(s"crash-$point")
      val crashing = new CrawlJob(spark, pagesDF, settings, dir)
      crashing.afterWrite = (w, step) => if (w >= 2 && step == point) throw new Crash(point)
      intercept[Crash](crashing.run(Fixtures.seeds(V)))
      val (resumed, summary) = runEngine(settings, dir)
      assert(scheduleTuples(resumed) == scheduleTuples(whole), s"$point: schedule diverged")
      assert(scheduleTuples(resumed) == simTuples(fullSim), s"$point: schedule ≠ simulator")
      assert(seenSet(resumed) == seenSet(whole) && seenSet(resumed) == fullSim.seen.toSet,
        s"$point: seen set diverged")
      assert(deadPairs(resumed) == deadPairs(whole) && deadPairs(resumed) == fullSim.dead.toSet,
        s"$point: dead letters diverged")
      assert(summary == wholeSummary, s"$point: budget accounting diverged")
      assert(lineageSums(resumed) == lineageSums(whole), s"$point: lineage diverged")
      assert(lineageSums(resumed).collect { case ((w, "scheduled"), n) => w -> n } == simScheduled,
        s"$point: scheduled lineage ≠ simulator")
      assertLineageMatchesWaves(resumed)
    }
  }

  test("a checkpoint without a layout key is refused with a clear message") {
    val dir = tmpDir("oldlayout")
    runEngine(base.copy(maxWaves = 1), dir)
    // rewrite the committed manifests as the older per-table layout left them
    val manifests = Paths.get(dir, "manifest")
    val files = Files.list(manifests)
    try files.iterator().asScala.foreach { p =>
      Files.write(p, Files.readAllLines(p).asScala.filterNot(_.startsWith("layout=")).asJava)
    } finally files.close()
    val job = new CrawlJob(spark, pagesDF, base, dir)
    val onResume = intercept[IllegalStateException](job.run(Fixtures.seeds(V)))
    assert(onResume.getMessage.contains("no 'layout' key"), onResume.getMessage)
    val onRead = intercept[IllegalStateException](job.scheduleTable)
    assert(onRead.getMessage.contains("no 'layout' key"), onRead.getMessage)
  }

  test("table readers: inc and results views follow the settings of the waves that wrote them") {
    val (both, summary) = extractRun
    val settings = extractSettings
    assert(both.incTable.count() == summary.finished)
    assert(both.resultsTable.count() == summary.finished)
    assert(both.incTable.columns.toSeq == Seq("url", "url_canon", "wave", "priority", "seq"))
    assert(both.resultsTable.columns.toSeq ==
      Seq("wave", "url_canon", "parser_id", "lang", "text", "n_outlinks"))
    val (noInc, _) = runEngine(settings.copy(inc = false), tmpDir("views-noinc"))
    assert(noInc.incTable.count() == 0 && noInc.resultsTable.count() == summary.finished)
    val (noExtract, _) = runEngine(settings.copy(extract = false), tmpDir("views-noextract"))
    assert(noExtract.resultsTable.count() == 0 && noExtract.incTable.count() == summary.finished)
    // one checkpoint, waves run with different settings (wave 1 with
    // neither view, then both): each wave's views follow its own settings
    val dir = tmpDir("views-mixed")
    runEngine(settings.copy(size = 40, inc = false, extract = false, maxWaves = 1), dir)
    val (mixed, _) = runEngine(settings.copy(size = 40), dir)
    val fetchedLater = mixed.metricsTable.filter(col("wave") > 1)
      .agg(sum("fetched")).head().getLong(0)
    assert(fetchedLater > 0 && mixed.scheduleTable.filter(col("wave") === 1).count() > 0)
    assert(mixed.incTable.count() == fetchedLater && mixed.resultsTable.count() == fetchedLater)
    assert(mixed.resultsTable.filter(col("wave") === 1).count() == 0)
  }

  test("crawl order is independent of shuffle partitioning and bucket count") {
    // the north rule's determinism core: seq is a pure function of
    // (wave, rank) from tie-free total orders, so neither the session's
    // shuffle partitioning nor the storage bucket layout may change the
    // schedule. fullRun ran at 4 shuffle partitions / 8 buckets.
    val p0 = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      val (job13, _) = runEngine(base.copy(numBuckets = 5), tmpDir("part13"))
      assert(scheduleTuples(job13) == scheduleTuples(fullRun._1),
        "schedule changed with partitioning/bucketing")
      assert(job13.seenTable.count() == fullRun._1.seenTable.count())
    } finally spark.conf.set("spark.sql.shuffle.partitions", p0)
  }

  test("bucketed state tables: anti-joins have no Exchange on the stored side") {
    import graft.operators.Dedup
    val dir = tmpDir("bucketplan")
    val (job, _) = runEngine(base.copy(maxWaves = 2), dir)
    val lastWave = 2
    val oldT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldA = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val ckpt = new Checkpoint(spark, dir, base.numBuckets)
      // D1 dedup gate: candidates LEFT ANTI seen — the cumulative seen set
      // must be a bucketed scan with no Exchange above it
      val seen = ckpt.readBucketed("seen", lastWave)
      val cands = spark.range(0, 1000)
        .selectExpr("concat('http://hostx.example.com/p/', cast(id as string)) as url_canon")
        .withColumn("url_hash", Dedup.urlHash(col("url_canon")))
      // AQE's toString appends the "Initial Plan" section — count
      // operators in the final plan only
      def finalPlan(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val anti = Dedup.antiJoinSeen(cands, seen)
      anti.collect()
      val plan = finalPlan(anti)
      assert(plan.contains("SelectedBucketsCount"), s"seen scan not bucketed:\n${plan.take(1500)}")
      assert(plan.linesIterator.count(_.contains("Exchange")) == 1,
        s"expected exactly one Exchange (candidates side only):\n${plan.take(2500)}")
      // leftover join: frontier LEFT ANTI scheduled — stored frontier side
      // likewise shuffle-free
      val frontier = ckpt.readBucketedWave("frontier", lastWave)
      val sched = frontier.filter(col("seq") % 2 === 0).select("url_hash", "url_canon")
        .collect() // materialize so the probe join below plans against a local relation
      val schedDf = spark.createDataFrame(
        spark.sparkContext.parallelize(sched.toSeq),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("url_hash", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("url_canon", org.apache.spark.sql.types.StringType))))
      val leftover = frontier.join(schedDf, Seq("url_hash", "url_canon"), "left_anti")
      leftover.collect()
      val lplan = finalPlan(leftover)
      assert(lplan.contains("SelectedBucketsCount"), s"frontier scan not bucketed:\n${lplan.take(1500)}")
      assert(lplan.linesIterator.count(_.contains("Exchange")) == 1,
        s"expected exactly one Exchange (scheduled side only):\n${lplan.take(2500)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldT)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", oldA)
    }
  }

  test("trapGuard: trap-shaped outlinks and seeds never enter frontier/seen; clean URLs unaffected") {
    val root = "http://trap.example.com/p/0"
    val ok = "http://trap.example.com/p/1"
    val deep = "http://trap.example.com/a/b/c/d/e/f/g"   // depth 7 > 5
    val cyc = "http://trap.example.com/a/b/a/b/a"         // 'a' ×3 > 2
    val boom = "http://trap.example.com/p/2?a=1&b=2&c=3&d=4&e=5&f=6&g=7" // 7 params > 6
    val seedTrap = "http://trap.example.com/s/s/s/s"      // trap seed: 's' ×4
    def page(u: String, links: Seq[String]): graft.sources.Page = {
      val html = "<html><head><title>t</title></head><body>" +
        links.map(l => s"""<a href="$l">x</a>""").mkString(" ") +
        "<p>Some body text for the extractor.</p></body></html>"
      graft.sources.Page(u, new java.sql.Timestamp(0L), html.getBytes("UTF-8"), "", "en")
    }
    val s0 = spark
    import s0.implicits._
    val trapPages = Seq(
      page(root, Seq(ok, deep, cyc, boom)),
      page(ok, Nil), page(deep, Nil), page(cyc, Nil), page(boom, Nil),
      page(seedTrap, Nil)).toDS.toDF
    val settings = base.copy(size = 50, hostBudget = 10, waveCap = 50,
      maxWaves = 4, numBuckets = 4,
      urlPattern = "^http://trap\\.example\\.com/.*$")
    val seeds = Seq(root, seedTrap)
    def seenOf(trapGuard: Option[graft.operators.TrapRules]): Set[String] = {
      val job = new CrawlJob(spark, trapPages, settings.copy(trapGuard = trapGuard), tmpDir("trap"))
      job.run(seeds)
      job.seenTable.select("url_canon").collect().map(_.getString(0)).toSet
    }
    val unguarded = seenOf(None)
    // without the guard every link and seed is admitted (sanity baseline)
    assert(Set(root, ok, deep, cyc, seedTrap).subsetOf(unguarded))
    val guarded = seenOf(Some(graft.operators.TrapRules()))
    assert(guarded.contains(root) && guarded.contains(ok),
      "guard must not drop clean URLs")
    Seq(deep, cyc, seedTrap).foreach(u =>
      assert(!guarded.contains(u), s"trap URL leaked into the seen set: $u"))
    // the param-explosion link is keyed by its canonical (sorted-query) form
    assert(!guarded.exists(_.startsWith("http://trap.example.com/p/2?")),
      "param-explosion URL leaked into the seen set")
  }

  test("hostBlocklist: blocked hosts (and their subdomains) never enter frontier/seen; others unaffected") {
    val root = "http://ok.net/p/0"
    val okLeaf = "http://ok.net/p/1"
    val badExact = "http://bad.net/p/1"
    val badSub = "http://sub.bad.net/p/2"
    val lookalike = "http://notbad.net/p/3" // label boundary: must survive
    def page(u: String, links: Seq[String]): graft.sources.Page = {
      val html = "<html><head><title>t</title></head><body>" +
        links.map(l => s"""<a href="$l">x</a>""").mkString(" ") +
        "<p>Some body text for the extractor.</p></body></html>"
      graft.sources.Page(u, new java.sql.Timestamp(0L), html.getBytes("UTF-8"), "", "en")
    }
    val s0 = spark
    import s0.implicits._
    val pages = Seq(
      page(root, Seq(okLeaf, badExact, badSub, lookalike)),
      page(okLeaf, Nil), page(badExact, Nil), page(badSub, Nil),
      page(lookalike, Nil)).toDS.toDF
    val settings = base.copy(size = 50, hostBudget = 10, waveCap = 50,
      maxWaves = 4, numBuckets = 4,
      urlPattern = "^http://[a-z.]+/p/.*$")
    def seenOf(bl: Seq[String]): Set[String] = {
      val job = new CrawlJob(spark, pages,
        settings.copy(hostBlocklist = bl), tmpDir("bl"))
      job.run(Seq(root, badSub))
      job.seenTable.select("url_canon").collect().map(_.getString(0)).toSet
    }
    val open = seenOf(Nil)
    assert(Set(root, okLeaf, badExact, badSub, lookalike).subsetOf(open))
    val gated = seenOf(Seq("bad.net"))
    assert(gated.contains(root) && gated.contains(okLeaf) &&
      gated.contains(lookalike), "clean and lookalike hosts must survive")
    Seq(badExact, badSub).foreach(u =>
      assert(!gated.contains(u), s"blocklisted URL leaked into seen: $u"))
  }

  test("honorDirectives: noindex pages ship no result but their links follow; nofollow links never enter seen") {
    val root = "http://rep.example.com/p/0"
    val ni = "http://rep.example.com/p/ni"      // noindex page
    val nf = "http://rep.example.com/p/nf"      // nofollow page
    val viaNi = "http://rep.example.com/p/via-ni" // linked only from the noindex page
    val viaNf = "http://rep.example.com/p/via-nf" // linked only from the nofollow page
    def page(u: String, links: Seq[String], meta: String = ""): graft.sources.Page = {
      val html = s"<html><head><title>t</title>$meta</head><body>" +
        links.map(l => s"""<a href="$l">x</a>""").mkString(" ") +
        "<p>Some body text for the extractor.</p></body></html>"
      graft.sources.Page(u, new java.sql.Timestamp(0L), html.getBytes("UTF-8"), "", "en")
    }
    val s0 = spark
    import s0.implicits._
    val repPages = Seq(
      page(root, Seq(ni, nf)),
      page(ni, Seq(viaNi), """<meta name="robots" content="noindex">"""),
      page(nf, Seq(viaNf), """<META CONTENT="NOFOLLOW" NAME="robots">"""),
      page(viaNi, Nil), page(viaNf, Nil)).toDS.toDF
    val settings = base.copy(size = 50, hostBudget = 10, waveCap = 50,
      maxWaves = 5, numBuckets = 4, extract = true,
      urlPattern = "^http://rep\\.example\\.com/.*$")
    def run(honor: Boolean): (Set[String], Set[String]) = {
      val job = new CrawlJob(spark, repPages,
        settings.copy(honorDirectives = honor), tmpDir("rep"))
      job.run(Seq(root))
      (job.seenTable.select("url_canon").collect().map(_.getString(0)).toSet,
        job.resultsTable.select("url_canon").collect().map(_.getString(0)).toSet)
    }
    val (seenOff, resultsOff) = run(honor = false)
    // off = reference-equivalent: everything crawls and ships
    assert(Set(root, ni, nf, viaNi, viaNf).subsetOf(seenOff))
    assert(Set(root, ni, nf, viaNi, viaNf).subsetOf(resultsOff))
    val (seenOn, resultsOn) = run(honor = true)
    // noindex: fetched and followed, not shipped
    assert(seenOn.contains(ni) && !resultsOn.contains(ni))
    assert(seenOn.contains(viaNi) && resultsOn.contains(viaNi),
      "links on a noindex page must still be followed")
    // nofollow: shipped, links not followed
    assert(resultsOn.contains(nf))
    assert(!seenOn.contains(viaNf),
      "links on a nofollow page must not enter the frontier/seen set")
  }

  test("pipeline extraction matches the pages golden text (input_hint invariant)") {
    val (job, _) = extractRun
    val joined = job.resultsTable.alias("r")
      .join(pagesDF.alias("p"), col("r.url_canon") === col("p.url"))
      .select((col("r.text") === col("p.text")).as("ok"))
    val rows = joined.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(0)), "pipeline extraction diverged from golden text")
  }
}

/** Deterministic skewed frontier for politeness unit checks. */
private[plans] object FrontierBenchLike {
  def skewed(spark: SparkSession, n: Long): DataFrame = {
    spark.range(0L, n).selectExpr(
      """concat('http://', case when id % 3 = 0 then 'mega'
           else concat('tail', cast(id % 97 as string)) end, '.example.com') as host""",
      "concat('http://x/', cast(id as string)) as url_canon",
      "cast(id % 4 as int) as priority",
      "id as seq")
  }
}
