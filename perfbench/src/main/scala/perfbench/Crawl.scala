package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.TimeUnit
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.{Extract, UrlExprs}
import graft.operators.{BloomStore, Dedup, Politeness}
import graft.plans.{CrawlJob, CrawlSettings}
import graft.sim.ColaSimulator
import graft.sources.Fixtures

/** The real `CrawlJob.run` over a seeded `Fixtures` corpus: `crawl_wide`
 *  (few data-bound waves) and `crawl_deep` (many small waves, stopped
 *  half-way and resumed on the same checkpoint). */
object Crawl {
  final case class Spec(name: String, v: Long, settings: CrawlSettings, seeds: Seq[String],
      classedErrors: Boolean, resumeAt: Option[Int], prioritized: Boolean)

  /** A few waves of 10^5 gate URLs each: a large seeded seed list, a wave
   *  cap above any frontier, host budgets that never bind, extraction on. */
  def wide(seed: Long, smoke: Boolean): Spec = {
    val rnd = new java.util.Random(seed)
    val v = (if (smoke) 3000L else 12000L) + rnd.nextInt(500)
    val nSeeds = if (smoke) 200 else 1500
    val ids = mutable.LinkedHashSet.empty[Long]
    while (ids.size < nSeeds) ids += (rnd.nextDouble() * v).toLong
    Spec("crawl_wide", v, CrawlSettings(nPriorities = 1, hostBudget = 1 << 30,
        waveCap = 1L << 40, retries = 1, maxWaves = 3, urlPattern = Fixtures.UrlPattern,
        salts = 8, numBuckets = 8, bloomCapacity = 4 * v, extract = true),
      ids.toSeq.map(Fixtures.rawUrl), classedErrors = false, resumeAt = None, prioritized = false)
  }

  /** Many waves of 60 URLs: a 60-URL seed list (three seeded pages on each
   *  host), a binding per-host budget, three priorities, retries over
   *  classed fetch errors; the run stops half-way and resumes on the same
   *  checkpoint. The corpus size is fixed and the wave cap binds from the
   *  first wave, so every seed gives waves of the same size. */
  def deep(seed: Long, smoke: Boolean): Spec = {
    val rnd = new java.util.Random(seed)
    val v = if (smoke) 500L else 2500L
    val waves = if (smoke) 4 else 5
    val perHost = Array.fill(Fixtures.NHosts)(mutable.SortedSet.empty[Long])
    while (perHost.exists(_.size < 3)) {
      val id = rnd.nextInt(v.toInt).toLong
      val h = Fixtures.hostIdx(id)
      if (perHost(h).size < 3) perHost(h) += id
    }
    Spec("crawl_deep", v, CrawlSettings(nPriorities = 3, hostBudget = 3, waveCap = 60,
        retries = 1, networkRetries = 1, serverRetries = 1, maxWaves = waves,
        urlPattern = Fixtures.UrlPattern, salts = 1, numBuckets = 4,
        bloomCapacity = 4 * v, extract = true),
      perHost.toSeq.flatMap(_.toSeq).map(Fixtures.rawUrl), classedErrors = true,
      resumeAt = Some(waves / 2), prioritized = true)
  }

  private val IdRe = "/p/([0-9]+)".r

  def idOf(url: String): Option[Long] =
    IdRe.findFirstMatchIn(url).flatMap(_.group(1).toLongOption)

  /** Priority of a URL for the prioritized workload: its page id mod 3. */
  def priorityCol(c: Column): Column =
    coalesce(pmod(regexp_extract(c, "/p/([0-9]+)", 1).try_cast("long"), lit(3L)), lit(0L))
      .cast("int")

  def priorityOf(canon: String): Int = idOf(canon).fold(0)(i => (i % 3).toInt)

  /** The pages table the crawl fetches from: (url, html, lang) per page,
   *  plus `fetch_status` when fetch errors are classed. */
  def pages(spark: SparkSession, spec: Spec): DataFrame = {
    import spark.implicits._
    val v = spec.v
    val df = spark.range(0L, v).as[Long]
      .map(id => (Fixtures.canonUrl(id), Fixtures.htmlFor(id, v).getBytes(UTF_8),
        Fixtures.lang(id), Fixtures.statusOf(id)))
      .toDF("url", "html", "lang", "fetch_status")
    if (spec.classedErrors) df else df.drop("fetch_status")
  }

  /** canon URL → page html of the Fixtures corpus, computed on lookup, so
   *  the simulator never holds the corpus in memory. */
  final class FixturePages(v: Long) extends scala.collection.immutable.AbstractMap[String, String] {
    def get(k: String): Option[String] =
      idOf(k).filter(i => i < v && Fixtures.canonUrl(i) == k).map(Fixtures.htmlFor(_, v))
    def iterator: Iterator[(String, String)] =
      Iterator.iterate(0L)(_ + 1).takeWhile(_ < v).map(i => Fixtures.canonUrl(i) -> Fixtures.htmlFor(i, v))
    def removed(key: String): Map[String, String] = throw new UnsupportedOperationException
    def updated[V1 >: String](key: String, value: V1): Map[String, V1] =
      throw new UnsupportedOperationException
  }

  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var n = 0L
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte); n += 1 }
    s"$n:" + md.digest().map("%02x".format(_)).mkString
  }

  private def scheduleLines(rows: Seq[(Int, Long, String)]): Iterator[String] =
    rows.sortBy(t => (t._1, t._2)).iterator.map { case (w, r, u) => s"$w\t$r\t$u" }

  /** (schedule digest, seen-set digest) of the reference simulator on the
   *  same inputs, cached on disk per input. */
  def reference(spec: Spec, cache: Path): (String, String) = {
    val key = digest(Iterator(spec.toString) ++ spec.seeds.iterator).split(':')(1)
    val f = cache.resolve(s"${spec.name}-$key.ref")
    if (!Files.exists(f)) {
      val sim = new ColaSimulator(spec.settings, new FixturePages(spec.v),
        if (spec.prioritized) priorityOf _ else (_: String) => 0,
        if (spec.classedErrors) Some(Fixtures.statusMap(spec.v)) else None)
      sim.run(spec.seeds)
      val sched = digest(scheduleLines(sim.schedule.map(s => (s.wave, s.rank, s.canon)).toSeq))
      val seen = digest(sim.seen.toSeq.sorted.iterator)
      val tmp = Files.createTempFile(cache, "ref", ".tmp")
      Files.writeString(tmp, s"$sched\n$seen\n")
      Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE)
    }
    val Array(a, b) = Files.readString(f).trim.split("\n")
    (a, b)
  }

  def engineDigests(job: CrawlJob): (String, String) = {
    val sched = job.scheduleTable.select("wave", "rank", "url_canon").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
    val seen = job.seenTable.select("url_canon").collect().map(_.getString(0)).sorted
    (digest(scheduleLines(sched)), digest(seen.iterator))
  }

  /** (result rows, rows whose text differs from `Fixtures.textFor`). */
  def textMismatches(spark: SparkSession, job: CrawlJob, v: Long): (Long, Long) = {
    import spark.implicits._
    val res = job.resultsTable.select("url_canon", "text").as[(String, String)]
    val bad = res.filter { p => idOf(p._1).forall(i => Fixtures.textFor(i, v) != p._2) }
    (res.count(), bad.count())
  }

  final case class Run(job: CrawlJob, dir: Path, wallS: Double, waveS: Seq[Double],
      resumeS: Option[Double], items: Long, waves: Int, startMs: Long, endMs: Long)

  private def commitTimes(dir: Path): Seq[(Int, Double)] = {
    val s = Files.list(dir.resolve("manifest"))
    try s.iterator().asScala.toSeq
      .map(p => p.getFileName.toString)
      .collect { case n if n.startsWith("wave-") && n.endsWith(".properties") =>
        n.stripPrefix("wave-").stripSuffix(".properties").toInt }
      .sorted
      .map(w => w -> Files.getLastModifiedTime(dir.resolve("manifest")
        .resolve(f"wave-$w%05d.properties")).to(TimeUnit.MICROSECONDS) / 1e6)
    finally s.close()
  }

  def crawlOnce(spark: SparkSession, spec: Spec, pages: DataFrame, dir: Path): Run = {
    val prio: Column => Column = if (spec.prioritized) priorityCol else _ => lit(0)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val first = new CrawlJob(spark, pages,
      spec.settings.copy(maxWaves = spec.resumeAt.getOrElse(spec.settings.maxWaves)),
      dir.toString, prio)
    first.run(spec.seeds)
    var resumeCall = 0.0
    val job = spec.resumeAt.fold(first) { _ =>
      resumeCall = System.currentTimeMillis() / 1e3
      val j = new CrawlJob(spark, pages, spec.settings, dir.toString, prio)
      j.run(spec.seeds)
      j
    }
    val wallS = Env.secondsSince(t0)
    val commits = commitTimes(dir)
    // per-wave latency between consecutive commits; the gap across the
    // interruption is the resume's, not a wave's
    val waveS = commits.sliding(2).collect {
      case Seq((wa, a), (_, b)) if !spec.resumeAt.contains(wa) => b - a
    }.toSeq
    val resumeS = spec.resumeAt.map(k => commits.find(_._1 > k).map(_._2 - resumeCall).getOrElse(Double.NaN))
    val m = job.metricsTable.agg(sum(col("new_urls") + col("deduped"))).collect()(0)
    val items = spec.seeds.size + (if (m.isNullAt(0)) 0L else m.getLong(0))
    Run(job, dir, wallS, waveS, resumeS, items, commits.count(_._1 > 0), startMs,
      System.currentTimeMillis())
  }

  /** Checks the crawl's output against the reference; true when it passed. */
  def checkOutput(spark: SparkSession, spec: Spec, run: Run, ref: (String, String), r: Result): Boolean = {
    val (sched, seen) = engineDigests(run.job)
    var ok = r.check("schedule_equals_simulator", sched == ref._1) &
      r.check("seen_equals_simulator", seen == ref._2)
    if (spec.settings.extract) {
      val (n, bad) = textMismatches(spark, run.job, spec.v)
      ok = r.check("text_equals_fixtures", n > 0 && bad == 0) & ok
    }
    ok
  }

  def bloomCounts(cands: DataFrame, ord: Seq[Column], seen: DataFrame,
      store: BloomStore): (Double, Double) = {
    val inBatch = Dedup.firstSeenInBatch(cands, ord)
      .withColumn("__maybe", store.probeUdf(store.currentFiles())(
        store.bucketIdCol(col("url_hash"), col("url_canon")), col("url_hash")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val total = inBatch.count()
    val maybe = inBatch.filter(col("__maybe"))
    val nMaybe = maybe.count()
    val falsePos = maybe.join(seen, Seq("url_hash", "url_canon"), "left_anti").count()
    inBatch.unpersist(false)
    (nMaybe.toDouble / math.max(total, 1L), falsePos.toDouble)
  }

  def hotHosts(df: DataFrame, hostBudget: Int): Double =
    df.groupBy("host").count().filter(col("count") > hostBudget).count().toDouble

  /** Job-level attribution of a traced crawl: per engine module, jobs and
   *  busy seconds per wave; plus the wall time no job was running. */
  def attribution(log: JobLog, run: Run): (Map[String, Double], Map[String, (Double, Double)]) = {
    val js = log.jobsIn(run.startMs, run.endMs)
    val w = math.max(run.waves, 1).toDouble
    val byLayer = js.groupBy(_.layer).map { case (l, jl) =>
      l -> (jl.size / w, log.busyMs(jl, run.startMs, run.endMs) / 1e3 / w)
    }
    val ckpt = js.filter(_.layer == "ckpt")
    val layers = Map(
      "crawljob.jobs_per_wave" -> js.size / w,
      "crawljob.stages_per_wave" -> js.map(_.stageIds.size).sum / w,
      "crawljob.driver_gap_s" ->
        ((run.endMs - run.startMs) - log.busyMs(js, run.startMs, run.endMs)) / 1e3 / w,
      "ckpt.write_s" -> log.busyMs(ckpt, run.startMs, run.endMs) / 1e3 / w,
      "ckpt.jobs_per_wave" -> ckpt.size / w,
      "ckpt.mb_written" -> log.stagesOf(ckpt).map(_.outBytes).sum / 1e6,
      "ckpt.files_per_wave" -> Env.fileCount(run.dir) / w,
      "politeness.jobs" -> js.count(_.layer == "politeness") / w)
    (layers, byLayer)
  }

  /** Replays the biggest wave of a finished crawl through the engine's
   *  public layer functions, one span per layer. */
  def replay(spark: SparkSession, spec: Spec, pages: DataFrame, run: Run, work: Path,
      t: Tracer): Map[String, Double] = {
    val s = spec.settings
    val metrics = run.job.metricsTable.collect()
    val w = metrics.maxBy(_.getAs[Long]("scheduled")).getAs[Int]("wave")
    val sched = run.job.scheduleTable.filter(col("wave") === w)
    val seenBefore = run.job.seenTable.filter(col("wave") < w)
      .select(col("url_hash"), col("url_canon"))
    val store = new BloomStore(spark, work.resolve("replay-bloom").toString, s.numBuckets,
      math.max(s.bloomCapacity / s.numBuckets, 1024))
    store.rebuild(seenBefore, 0)
    def mat(df: DataFrame): DataFrame = { val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p }

    val fetched = t.span("fetch") {
      mat(sched.join(pages.select(col("url").as("url_canon"), col("html")), Seq("url_canon"), "left"))
    }
    val ok = fetched.filter(col("html").isNotNull)
    if (s.extract) t.span("extract.text") {
      val text = udf((h: Array[Byte], u: String) => Extract.extractText(h, u))
      ok.select(text(col("html"), col("url_canon"))).write.format("noop").mode("overwrite").save()
    }
    val outs = t.span("extract.outlinks") {
      val links = udf((h: Array[Byte], u: String) => Extract.extractOutlinks(h, u))
      mat(ok.select(col("url_canon").as("parent_canon"), col("seq").as("parent_seq"),
        posexplode(links(col("html"), col("url_canon"))).as(Seq("link_idx", "out_url"))))
    }
    val prio: Column => Column = if (spec.prioritized) priorityCol else _ => lit(0)
    val cands = t.span("urlexprs") {
      mat(outs.filter(col("out_url").rlike("(?i)" + s.urlPattern))
        .withColumn("url_canon", UrlExprs.canonicalizeUrl(col("out_url")))
        .withColumn("url_hash", Dedup.urlHash(col("url_canon")))
        .withColumn("host", UrlExprs.urlHost(col("url_canon")))
        .filter(col("url_canon") =!= col("parent_canon"))
        .withColumn("priority", prio(col("url_canon")))
        .withColumn("seq", col("parent_seq") * 64 + col("link_idx"))
        .drop("out_url", "parent_canon"))
    }
    val ord = Seq(col("parent_seq"), col("link_idx"))
    val fresh = t.span("dedup") {
      mat(Dedup.dedupWave(spark, cands, seenBefore, ord, numBuckets = s.numBuckets,
        bloomStore = Some(store)))
    }
    t.span("politeness") {
      Politeness.schedule(fresh, s.hostBudget, s.waveCap, s.nPriorities, s.salts).count()
    }
    t.span("ckpt.read") {
      val j = new CrawlJob(spark, pages, s, run.dir.toString)
      j.seenTable.count(); j.scheduleTable.count(); j.metricsTable.collect()
    }
    val (maybeRatio, falsePos) = bloomCounts(cands, ord, seenBefore, store)
    val okRows = ok.agg(count(lit(1)), coalesce(sum(length(col("html"))), lit(0L))).collect()(0)
    val gate = metrics.map(m => (m.getAs[Long]("new_urls"), m.getAs[Long]("deduped")))
    val out = Map(
      "crawljob.fetch_shuffle_mb" -> t.spanShuffleMb("fetch"),
      "extract.text_busy_s" -> t.spanS("extract.text"),
      "extract.outlinks_busy_s" -> t.spanS("extract.outlinks"),
      "extract.pages" -> (if (s.extract) okRows.getLong(0).toDouble else 0.0),
      "extract.html_mb" -> okRows.getLong(1) / 1e6,
      "urlexprs.busy_s" -> t.spanS("urlexprs"),
      "dedup.busy_s" -> t.spanS("dedup"),
      "dedup.shuffle_mb" -> t.spanShuffleMb("dedup"),
      "dedup.candidates" -> gate.map(g => g._1 + g._2).sum.toDouble,
      "dedup.new_ratio" -> gate.map(_._1).sum.toDouble / math.max(gate.map(g => g._1 + g._2).sum, 1L),
      "bloom.maybe_ratio" -> maybeRatio,
      "bloom.false_pos" -> falsePos,
      "politeness.busy_s" -> t.spanS("politeness"),
      "politeness.task_skew" -> t.log.taskSkew(t.spanJobs("politeness")),
      "politeness.hot_hosts" -> hotHosts(fresh, s.hostBudget),
      "ckpt.read_s" -> t.spanS("ckpt.read"))
    Seq(fetched, outs, cands, fresh).foreach(_.unpersist(false))
    out
  }

  def run(spark: SparkSession, o: Opts, r: Result, spec: Spec): Unit = {
    var pg: DataFrame = null
    val setups = (1 to 3).map { _ =>
      if (pg != null) pg.unpersist(true)
      val t0 = System.nanoTime()
      pg = pages(spark, spec).persist(StorageLevel.MEMORY_AND_DISK)
      pg.count()
      Env.secondsSince(t0)
    }
    r.metrics("setup_s") = Stats.median(setups)
    val ref = reference(spec, o.cache)

    Heap.reset()
    val runs = mutable.ArrayBuffer.empty[Run]
    val tEnd = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 0
    while (r.attempted < 1 || (System.nanoTime() < tEnd && r.attempted < 50)) {
      i += 1
      val dir = o.work.resolve(s"crawl-$i")
      r.attempt {
        val run = crawlOnce(spark, spec, pg, dir)
        runs += run
        checkOutput(spark, spec, run, ref, r)
      }
      if (!r.metrics.contains("state_mb")) r.metrics("state_mb") = Env.dirBytes(dir) / 1e6
      Env.delete(dir)
    }
    val waves = runs.flatMap(_.waveS).toSeq
    r.metrics("items_per_s") = runs.map(_.items).sum / runs.map(_.wallS).sum
    r.metrics("wave_s_p50") = Stats.median(waves)
    r.info("wave_s_p90") = Stats.quantile(waves, 0.9)
    r.info("crawl_urls_per_s") = r.metrics("items_per_s")
    r.info("runs") = runs.size
    r.info("gate_urls") = runs.map(_.items).sum
    r.info("run_s") = runs.map(_.wallS).sum
    r.info("waves") = waves.size
    r.info("v") = spec.v
    spec.resumeAt.foreach(_ => r.info("resume_s") = Stats.median(runs.flatMap(_.resumeS).toSeq))

    if (o.trace) {
      // the same shortened crawl untraced, then traced: both run after the
      // measured crawl compiled their plans, so the difference is the
      // listener's cost
      val short = spec.copy(resumeAt = None, settings = spec.settings.copy(
        maxWaves = spec.resumeAt.getOrElse(spec.settings.maxWaves)))
      val untraced = crawlOnce(spark, short, pg, o.work.resolve("crawl-untraced"))
      Env.delete(untraced.dir)
      val t = new Tracer(spark)
      val traced = crawlOnce(spark, short, pg, o.work.resolve("crawl-traced"))
      t.drain()
      val (layers, byLayer) = attribution(t.log, traced)
      r.layers ++= layers
      r.layers ++= t.log.sparkTotals(t.log.jobsIn(traced.startMs, traced.endMs), traced.wallS, o.cores)
      r.layers("trace.overhead_frac") = traced.wallS / untraced.wallS - 1.0
      r.info("attribution") = byLayer.map { case (l, (j, b)) => l -> Map("jobs_per_wave" -> j, "busy_s_per_wave" -> b) }
      r.info("traced_wave_s_p50") = Stats.median(traced.waveS)
      r.layers ++= replay(spark, short, pg, traced, o.work, t)
      t.stop()
    }
  }
}
