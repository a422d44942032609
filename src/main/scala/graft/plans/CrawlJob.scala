package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel
import graft.functions.{Extract, UrlCanon}
import graft.operators.{Dedup, ParserDispatch, ParserRule, Politeness}

/**
 * Job configuration ≙ the reference's YAML settings tree
 * (cola/conf/main.yaml:11-40 + JobDescription):
 *
 * @param size        global fetch budget, -1 = unlimited (job.size, main.yaml:14)
 * @param nPriorities priority queue count (job.priorities, main.yaml:20)
 * @param hostBudget  per-host fetches per wave — the deterministic
 *                    politeness knob replacing wall-clock speed control (O6)
 * @param waveCap     max fetches per wave (≙ cluster-wide speed max)
 * @param retries     error retries before dead-letter when the pages
 *                    table carries no error classes (-1 = keep trying)
 * @param networkRetries per-class policy (O8), active when `pages` has a
 *                    `fetch_status` column: rows MISSING from the table
 *                    are network errors (connection failed,
 *                    cola/conf/main.yaml:26-28; executor.py:229-244
 *                    selects the policy by error type). -1 = keep trying
 *                    (the reference default; the `retries < 0 or
 *                    error_times <= retries` form at executor.py:484)
 * @param serverRetries rows PRESENT with fetch_status != 'ok' are server
 *                    errors (404/500 with a response, main.yaml:30-33);
 *                    default 5 per the reference
 * @param networkIgnore / serverIgnore: after retries are exhausted, drop
 *                    the url instead of dead-lettering (the `ignore`
 *                    knob, main.yaml:28,33 → executor.py:345-351)
 * @param retrySpanWaves / networkSpanWaves / serverSpanWaves: waves a
 *                    failed url sits out before its retry is schedulable
 *                    — the deterministic reading of the per-class error
 *                    `span` sleep (network 20 s vs server 10 s,
 *                    main.yaml:27,31; executor.py:336-337 waits span
 *                    before re-queueing). 1 (default) = eligible next
 *                    wave, the pre-span behavior
 * @param urlPattern  accept regex (P1, cola/core/urls.py:48-60) —
 *                    case-insensitive like re.IGNORECASE (urls.py:27);
 *                    shorthand for a single `extract` rule when
 *                    `parsers` is empty
 * @param parsers     ordered (pattern, parser_id) routing rules (P2,
 *                    urls.py:62-73): first match dispatches, no match
 *                    drops the URL; see [[graft.operators.ParserDispatch]]
 * @param salts       politeness salting shards for mega-hosts (J5)
 * @param useBloom    per-bucket seen pre-filter in front of the exact
 *                    anti-join (D2) — output provably identical either way
 * @param seenFilter  pre-filter sketch kind: "bloom" (reference-sized
 *                    Bloom) or "cuckoo" (Fan et al. 2014 — deletable,
 *                    ~0.012% fpr; see [[graft.operators.CuckooFilter]]);
 *                    switching kinds on an existing checkpoint triggers
 *                    one filter rebuild from the exact seen table
 * @param extract     run text extraction on fetched pages (the X1/X2 work);
 *                    off for pure frontier-throughput benchmarks
 */
case class CrawlSettings(
    size: Long = -1L,
    nPriorities: Int = 1,
    hostBudget: Int = 2,
    waveCap: Long = 1000000L,
    retries: Int = 1,
    networkRetries: Int = -1, // main.yaml:27 (-1 = keep trying)
    serverRetries: Int = 5, // main.yaml:31
    networkIgnore: Boolean = false, // main.yaml:28
    serverIgnore: Boolean = false, // main.yaml:33
    retrySpanWaves: Int = 1, // span ≙ wave-delay; 1 = next wave
    networkSpanWaves: Int = 1, // main.yaml:27 (span: 20)
    serverSpanWaves: Int = 1, // main.yaml:31 (span: 10)
    maxWaves: Int = 1000,
    urlPattern: String = ".*",
    salts: Int = 1,
    numBuckets: Int = 32,
    useBloom: Boolean = true,
    seenFilter: String = "bloom", // bloom | cuckoo (north rule: "bloom/cuckoo URL-seen")
    bloomCapacity: Long = 1000000L, // D3 floor (cola/job/__init__.py:48)
    extract: Boolean = true,
    hostMetrics: Boolean = false, // O7 evidence: write per-(wave, host) fetch outcomes
    inc: Boolean = true, // O9 incremental queue (job.inc, main.yaml:22)
    incPasses: Int = 0, // O9 automated re-crawl passes once the frontier drains
    parsers: Seq[ParserRule] = Seq.empty,
    bundles: Option[graft.operators.BundleSpec] = None, // F2/F3 labeled bundles
    // spider-trap admission gate (Traps): applied to seeds and discovered
    // outlinks BEFORE enrich/dedup, so trap URLs never cost a shuffle or a
    // seen-set write. None (default) keeps reference-equivalent admission.
    trapGuard: Option[graft.operators.TrapRules] = None,
    // page-level REP directives (Robots.metaRobotsFlags): noindex pages
    // are fetched and their links followed but excluded from the results
    // table; nofollow pages keep their text but contribute no outlinks.
    // Off (default) keeps reference-equivalent behavior. The flags read
    // the raw bytes as UTF-8 — meta tags are ASCII, which every
    // ASCII-compatible page charset preserves.
    honorDirectives: Boolean = false,
    // curated hostname blocklist (Blocklist.isBlockedIn): an entry blocks
    // itself and every subdomain, label-bounded; applied at enrichment —
    // blocked hosts never enter frontier or seen. Empty (default) keeps
    // reference-equivalent admission. Driver-held literal list (up to
    // ~10^4 entries); table-sized lists pre-filter via Blocklist.admit.
    hostBlocklist: Seq[String] = Nil,
    // adaptive query execution inside the wave loop. Default OFF: every
    // wave exchange is already pre-sized to the bucketed state layout
    // (numBuckets) and skew is handled explicitly (salts), so AQE has
    // nothing to re-plan — but its per-exchange materialization turns
    // each wave DAG into a chain of separate jobs (measured: 147 → 65
    // jobs per 4-wave run, ~15% wall on the driver-latency-bound path).
    // Flip on for deployments that want runtime re-planning inside
    // waves, e.g. un-salted skewed fetch joins.
    waveAqe: Boolean = false)

case class CrawlSummary(wavesRun: Int, applied: Long, finished: Long,
    scheduledTotal: Long, seenTotal: Long, deadTotal: Long)

/**
 * The wave-loop crawl driver (SURVEY §3.1 →Spark mapping): each wave is one
 * declarative DAG — candidates → dedup gate → politeness/priority/budget
 * schedule → "fetch" join against the pages table → extract → outlinks →
 * union-next-frontier — committed atomically per wave via [[Checkpoint]].
 * All coordination (budget arithmetic O4, termination O12) is O(1)
 * driver-side between waves: zero per-row coordination, which is the
 * structural reason the design scales N→4N (vs the reference's per-fetch
 * XML-RPC budget/speed round trips, cola/functions/budget.py:137-146).
 */
/**
 * CONSTRUCTOR CONTRACT: `pages` must be UNIQUE per `url` — the wave's
 * fetch is a left join on it, and the loop's exact frontier arithmetic
 * (nextSizeBase) counts one fetch per scheduled url. The invariant is
 * asserted every wave at zero cost via the wave Observation (see run()).
 */
object CrawlJob {
  /** Shared pool for a wave's tail output writes (see run()): Spark
   *  DataFrame actions are thread-safe against one session, and the
   *  futures only ever read frames whose caches the wave thread already
   *  built. Daemon threads — the pool must never hold the JVM open. */
  private[plans] lazy val waveWriteEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        (r: Runnable) => {
          val t = new Thread(r, "graft-wave-write"); t.setDaemon(true); t
        }))

  /** Row count of every partition, in one job. */
  private[plans] def partitionCounts(rdd: org.apache.spark.rdd.RDD[_]): Array[Long] =
    rdd.mapPartitions { it =>
      var n = 0L; while (it.hasNext) { it.next(); n += 1 }; Iterator.single(n)
    }.collect()

  /** Lineage stages, in the order their manifest keys are read back. */
  private[plans] val LineageStages = Seq("candidates", "admitted", "scheduled")

  /** Manifest value of one stage's lineage: `partition:rows` for every
   *  non-empty partition, comma-separated. */
  private[plans] def encodeLineage(counts: Array[Long]): String =
    counts.zipWithIndex.collect { case (n, p) if n > 0 => s"$p:$n" }.mkString(",")

  private[plans] def decodeLineage(v: String): Seq[(Int, Long)] =
    v.split(',').toSeq.filter(_.nonEmpty).map { e =>
      val Array(p, n) = e.split(':'); (p.toInt, n.toLong)
    }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Broadcast variables built by a physical plan's broadcast exchanges
   *  (inside AQE query stages too); exchanges that never ran are skipped. */
  private[plans] def planBroadcasts(plan: SparkPlan): Seq[Broadcast[_]] =
    PlanWalk.collect(plan) { case b: BroadcastExchangeExec => b.completionFuture.value }
      .flatMap(_.flatMap(_.toOption))
}

class CrawlJob(
    spark: SparkSession,
    pages: DataFrame,
    settings: CrawlSettings,
    workDir: String,
    priorityExpr: Column => Column = _ => lit(0),
    robotsRules: Option[DataFrame] = None,
    // O7 end-to-end: decayed per-host budgets (host STRING, host_budget
    // INT — the output of Politeness.adaptiveHostBudgets over a previous
    // run's hostMetricsTable) gate this run's politeness step; hosts not
    // in the table keep settings.hostBudget (speed.py:203-230 offline
    // reading — a prior run's banned windows lower the next run's rate)
    hostBudgets: Option[DataFrame] = None) {

  import spark.implicits._

  private val ckpt = new Checkpoint(spark, workDir, settings.numBuckets)

  /** Physical plans the current wave ran: its cache builds and its
   *  dense-rank passes (see releaseWave). */
  private val wavePlans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]

  /** The plan a cached frame's cache is built from. */
  private def cachePlan(df: DataFrame): Option[SparkPlan] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.cachedPlan)

  /** Persists a wave-scoped frame. Its cache plan is kept now: a later
   *  insert into a state table it reads re-registers the cache under a
   *  new plan, and the broadcasts the first build made stay with this one. */
  private def persistWave(df: DataFrame): DataFrame = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    wavePlans ++= cachePlan(cached)
    cached
  }

  /** Drops a wave's cached frames and destroys the broadcast relations
   *  the wave's plans built (the fetch join's page table among them).
   *  Left alone, Spark's ContextCleaner frees a broadcast only once the
   *  driver's GC has collected its handle, and a handle that reached the
   *  old generation keeps its whole hash table in the block store until
   *  a full GC. Destroying them here frees them at the wave boundary,
   *  whatever the GC does. */
  private def releaseWave(frames: Seq[DataFrame]): Unit = {
    val plans = wavePlans.toSeq ++ frames.flatMap(cachePlan)
    frames.foreach(_.unpersist())
    plans.flatMap(CrawlJob.planBroadcasts).distinct.foreach(_.destroy())
    wavePlans.clear()
  }

  /** Crash-point hook for resume tests: called with (wave, step) right
   *  after each of a wave's checkpoint writes — "fetched", "seen", "dead",
   *  "bloom", "frontier" — and with "manifest" just before the commit.
   *  A hook that throws ends the run there, as a killed driver would. */
  private[plans] var afterWrite: (Int, String) => Unit = (_, _) => ()

  /** P2 rule table; `urlPattern` alone ≙ one catch-all `extract` parser. */
  private val parserRules: Seq[ParserRule] =
    if (settings.parsers.nonEmpty) settings.parsers
    else Seq(ParserRule(settings.urlPattern, "extract"))
  private val textParserIds = ParserDispatch.idsWhere(parserRules, _.extractsText)
  private val linkParserIds = ParserDispatch.idsWhere(parserRules, _.followsLinks)

  private val frontierCols = Schemas.frontier.fieldNames.map(col).toSeq
  private def ddlOf(schema: org.apache.spark.sql.types.StructType, drop: Set[String] = Set.empty) =
    schema.fields.filterNot(f => drop(f.name))
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")

  /** Engine counters (A1/A6/A7): executor-side partials merged at the
   *  driver by Spark's accumulator machinery — the counter-server model. */
  val counters = new graft.operators.CounterAccumulator()
  spark.sparkContext.register(counters, "graft_counters")

  // native Catalyst expressions (UrlExprs): same semantics as the
  // UrlCanon functions, zero-copy fast path, no Scala-UDF bridge
  private def canonCol(c: Column): Column = graft.functions.UrlExprs.canonicalizeUrl(c)
  private def hostCol(c: Column): Column = graft.functions.UrlExprs.urlHost(c)
  private val extractTextUdf = {
    val ctr = counters // local capture: the closure must not drag `this` in
    udf((html: Array[Byte], u: String) => {
      ctr.add("extract", "pages")
      Extract.extractText(html, u)
    })
  }
  private val outlinksUdf = udf((html: Array[Byte], u: String) => Extract.extractOutlinks(html, u))

  /** seq base for wave w: keeps discovery FIFO monotone across waves while
   *  staying a pure function of (wave, within-wave rank) — deterministic
   *  across parallelism levels (O3). */
  private def waveBase(w: Int): Long = w.toLong << 40

  /** Dense deterministic sequence: total-order sort + a zipWithIndex
   *  equivalent. The one justified RDD drop (SURVEY §2.10): a dense
   *  global rank must not depend on partition boundaries (a row_number
   *  over an empty window would single-task).
   *
   *  Runs at the InternalRow level (`queryExecution.toRdd` + JoinedRow +
   *  internalCreateDataFrame): the old `.rdd` form paid a full
   *  UnsafeRow→external Row→UnsafeRow round trip (boxing every column,
   *  twice per wave). Rows obey the standard valid-until-next() iterator
   *  contract — JoinedRow wraps, downstream operators copy if they buffer.
   *
   *  Returns (df, per-partition row counts): the count pass a dense rank
   *  needs anyway yields the global count (their sum) and the wave's
   *  lineage counts for free, so callers never pay a separate count job
   *  for nScheduled / nNew. */
  private def withDenseSeq(df: DataFrame, ord: Seq[Column], start: Long,
      outCol: String): (DataFrame, Array[Long]) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    val sorted = df.orderBy(ord: _*)
    val schema = sorted.schema.add(outCol, LongType, nullable = false)
    val rdd0 = sorted.queryExecution.toRdd
    val counts = CrawlJob.partitionCounts(rdd0)
    wavePlans += sorted.queryExecution.executedPlan
    val offsets = counts.scanLeft(start)(_ + _)
    val rdd = rdd0.mapPartitionsWithIndex { (p, it) =>
      val joined = new JoinedRow()
      val seqRow = new GenericInternalRow(1)
      var i = offsets(p)
      it.map { r =>
        seqRow.update(0, i)
        i += 1
        joined(r, seqRow): InternalRow
      }
    }
    (org.apache.spark.sql.graftbridge.ColumnBridge.internalCreateDataFrame(spark, rdd, schema),
      counts)
  }

  /** Trap admission gate (settings.trapGuard): a pure map-side predicate
   *  over the raw URL column — same stage as the P1/P2 regex filter, so
   *  an infinite URL space (calendar loops, faceted-search explosions)
   *  is cut before it reaches the dedup shuffle or the seen set. */
  private def trapGate(urlCol: String)(df: DataFrame): DataFrame =
    settings.trapGuard.fold(df)(r =>
      df.filter(!graft.operators.Traps.isTrap(col(urlCol), r)))

  /** Candidate enrichment: url → (canon, hash, host); robots and
   *  blocklist gates applied at discovery (disallowed or blocklisted
   *  urls never enter frontier or seen set — the blocklist check is a
   *  map-side arrays_overlap in the same stage, no join). */
  private def enrich(df: DataFrame): DataFrame = {
    val e0 = df.withColumn("url_canon", canonCol(col("url")))
      .withColumn("url_hash", Dedup.urlHash(col("url_canon")))
      .withColumn("host", hostCol(col("url_canon")))
    val e =
      if (settings.hostBlocklist.isEmpty) e0
      else e0.filter(!graft.operators.Blocklist.isBlockedIn(
        col("host"), settings.hostBlocklist))
    robotsRules.fold(e)(rules => graft.operators.Robots.filterAllowed(e, rules))
  }

  /** Wave 0: admit the seed list (S1; dedup-at-discovery D1/D6 — seeds are
   *  anti-joined like any wave, mq.exist at cola/job/task.py:114-118). */
  private def admitSeeds(seeds: Seq[String]): Unit = {
    val raw = seeds.zipWithIndex.toDF("url", "__idx")
      .filter(length(trim(col("url"))) > 0) // P4 blank drop (store.py:249-250)
      .filter(ParserDispatch.accepts(col("url"), parserRules)) // P1/P2
      .transform(trapGate("url")) // structural trap rules (off by default)
    val entries = enrich(raw)
      .withColumn("priority", Politeness.clampPriority(priorityExpr(col("url_canon")), settings.nPriorities))
      .withColumn("depth", lit(0))
      .withColumn("force", lit(false))
      .withColumn("error_times", lit(0))
      .withColumn("discovered_wave", lit(0))
      .withColumn("bundle", lit(null).cast("string"))
      .withColumn("eligible_wave", lit(0))
    val deduped = Dedup.firstSeenInBatch(entries, Seq(col("__idx")))
    val withSeq = withDenseSeq(deduped, Seq(col("__idx")), waveBase(0), "seq")._1
      .drop("__idx")
      .select(frontierCols: _*)
      .transform(persistWave)
    ckpt.writeBucketed(withSeq, 0, "frontier")
    ckpt.writeBucketed(withSeq.select(col("url_hash"), col("url_canon")), 0, "seen")
    releaseWave(Seq(withSeq))
    ckpt.commit(0, Map("applied" -> "0", "finished" -> "0", "scheduledTotal" -> "0", "deadTotal" -> "0"))
  }

  /** Register the bucketed state tables in this session's catalog —
   *  called by run() (reset = true: stale partition registrations for
   *  cleaned waves must go), and lazily by the read accessors with
   *  reset = false (inspecting a checkpoint — possibly while another job
   *  over the same dir is live — must not re-execute DROP DDL under it). */
  private def ensureStateTables(reset: Boolean = true): Unit = {
    // storage-partitioned state tables: seen + frontier are bucketed by
    // (url_hash, url_canon), so every wave's anti-joins read them
    // shuffle-free on the big side (see Checkpoint scaladoc)
    ckpt.ensureBucketed("seen", ddlOf(Schemas.seen, drop = Set("wave")), reset)
    ckpt.ensureBucketed("frontier", ddlOf(Schemas.frontier), reset)
  }

  private def bucketedReader(name: String): Int = { // returns latest wave
    if (!ckpt.bucketedRegistered(name)) ensureStateTables(reset = false)
    ckpt.latestWave.getOrElse(0)
  }

  /** Run (or resume) the crawl to completion.
   *
   *  For the duration of the run, `spark.sql.shuffle.partitions` is
   *  pinned to the engine's storage bucket count (and restored after):
   *  every wave exchange then lands directly on the bucketed state
   *  layout — the same alignment FrontierBench.childMain pins for the
   *  measured wave — instead of shuffling wave-sized frames across a
   *  session-wide partition count sized for scan-heavy analytics. The
   *  bucket count is the engine's declared state parallelism
   *  (settings.numBuckets, cluster-sized in production), so this scales
   *  with the deployment, not with this host. Every wave output is
   *  partition-independent by construction (dense-seq ranks, hash
   *  aggregates, windows — spec-pinned), so only job latency changes. */
  def run(seeds: Seq[String]): CrawlSummary = {
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", settings.numBuckets.toString)
    spark.conf.set("spark.sql.adaptive.enabled", settings.waveAqe.toString)
    try runImpl(seeds)
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  private def runImpl(seeds: Seq[String]): CrawlSummary = {
    ckpt.cleanUncommitted()
    ensureStateTables()
    val resumedWave = ckpt.latestWave
    if (resumedWave.isEmpty) admitSeeds(seeds)
    var wave = ckpt.latestWave.get
    var state = ckpt.manifest(wave)
    var applied = state("applied").toLong
    var finished = state("finished").toLong
    var scheduledTotal = state("scheduledTotal").toLong
    var deadTotal = state("deadTotal").toLong

    // one persisted frontier read per wave: the bucketed scan has no
    // exchange for ReuseExchange to share, and politeness reads it three
    // ways + the leftover anti-join — cache instead of 4 parquet scans.
    // (InMemoryRelation preserves the scan's hash partitioning, so the
    // leftover join stays exchange-free on this side.)
    var frontier = ckpt.readBucketedWave("frontier", wave)
      .persist(StorageLevel.MEMORY_AND_DISK)
    def seenUpTo(w: Int): DataFrame = ckpt.readBucketed("seen", w)
    // D2 partition-local bloom state: per-bucket filter files beside the
    // bucketed seen table, probed task-locally — never collected to or
    // broadcast from the driver (see BloomStore). A checkpoint without
    // filter state (first run, or resume onto a bloom-less dir) rebuilds
    // it from the committed seen table once.
    val bloomStore: Option[graft.operators.BloomStore] =
      if (settings.useBloom)
        Some(new graft.operators.BloomStore(spark, workDir, settings.numBuckets,
          math.max(settings.bloomCapacity / settings.numBuckets, 1024),
          kind = settings.seenFilter))
      else None
    // rebuild on first run, crashed-rebuild debris, OR a seen-filter kind
    // switch against the checkpoint's on-disk state (bloom ↔ cuckoo)
    bloomStore.foreach(st => if (st.needsRebuild) st.rebuild(seenUpTo(wave), wave))

    // O7 budgets: materialize ONCE for the whole run — the politeness
    // gate's broadcast guard counts the table every wave, and the decayed
    // budgets are run-constant by contract (the reference re-derives them
    // between runs, not between waves; speed.py:203-230)
    val runBudgets = hostBudgets.map(_.localCheckpoint(true))

    var frontierSize = frontier.count()
    // consumed O9 re-crawl passes are committed state: a resume must not
    // replay a pass an earlier (killed) run already performed
    var incPassesLeft =
      settings.incPasses - state.getOrElse("incPassesUsed", "0").toInt

    while (frontierSize > 0 && wave < settings.maxWaves &&
           (settings.size < 0 || finished < settings.size)) {
      val w = wave + 1
      val t0 = System.nanoTime()
      val grant =
        if (settings.size < 0) settings.waveCap
        else math.min(settings.waveCap, settings.size - applied)
      if (grant <= 0) {
        frontier.unpersist()
        return summary(wave, applied, finished, scheduledTotal, deadTotal)
      }

      val seen = seenUpTo(wave)

      // ---- schedule (O1/O3/O4/O6) ----
      // P2 dispatch on the raw url (executor.py:415 parses the produced
      // url string), computed once into the persisted wave frame.
      // O8 span: rows inside their per-class retry delay are withheld
      // from scheduling this wave (cheap filter over the cached frontier)
      // frontierSize bounds the filtered input, letting schedule() skip
      // the quota histogram job when no per-priority quota can bind
      val scheduled = Politeness.schedule(
        frontier.filter(col("eligible_wave") <= w), settings.hostBudget, grant,
        settings.nPriorities, settings.salts, inputUpperBound = frontierSize,
        hostBudgets = runBudgets)
        .withColumn("parser_id", ParserDispatch.parserId(col("url"), parserRules))
        .transform(persistWave)
      // the rank pass doubles as the nScheduled count (and the scheduled
      // lineage) and the cache build
      val (ranked, scheduledCounts) = withDenseSeq(
        scheduled.select(col("priority"), col("seq"), col("host"), col("url_canon"), col("depth")),
        Seq(col("priority").asc, col("seq").asc), 0L, "rank")
      val nScheduled = scheduledCounts.sum
      if (nScheduled == 0) {
        releaseWave(Seq(scheduled))
        if (frontier.filter(col("eligible_wave") > w).limit(1).count() == 0) {
          // frontier non-empty but nothing will ever be eligible: done
          frontier.unpersist()
          return summary(wave, applied, finished, scheduledTotal, deadTotal)
        }
        // idle wave: every schedulable row is sitting out its retry
        // delay — advance the clock only (no budget, no writes, no
        // commit; a resume deterministically replays idle waves; the
        // finite eligible_wave horizon bounds consecutive idle waves)
      } else {
        applied += nScheduled
        scheduledTotal += nScheduled

        val scheduleTable = ranked
          .select(lit(w).as("wave"), col("rank"), col("priority"), col("seq"),
            col("host"), col("url_canon"), col("depth"))
        // the schedule output reads only the cached `scheduled` frame plus
        // the collected rank offsets — independent of everything after it,
        // so its write job overlaps the fetch/extract pass instead of
        // serializing behind it (awaited with the wave tail before commit)
        val fSchedule = scala.concurrent.Future {
          ckpt.write(scheduleTable, w, "schedule")
        }(CrawlJob.waveWriteEc)

        // ---- "fetch" = join pages (J6/S2: html column IS the fetch result),
        //      then ONE pass over html computes extraction + outlinks + the
        //      fetch status together. Only that slim projection is persisted
        //      — raw html must never be cached or traversed twice (at crawl
        //      scale html dominates every other column by orders of
        //      magnitude). nErrors rides along via Observation (no extra job).
        // O8 error classes: active iff the pages table carries fetch_status.
        // A scheduled url MISSING from the table is a network error (nothing
        // answered); a row PRESENT with fetch_status != 'ok' is a server
        // error (the server responded with an error) — the offline reading
        // of NetworkError vs ServerError (executor.py:229-244). Without the
        // column every miss is the single default class (r1/r2 behavior).
        val hasStatus = pages.columns.contains("fetch_status")
        val pageCols = Seq(col("url").as("url_canon"), col("html"), col("lang")) ++
          (if (hasStatus) Seq(col("fetch_status")) else Seq.empty)
        val fetchedRaw = scheduled.join(pages.select(pageCols: _*), Seq("url_canon"), "left")
        val okCol =
          if (hasStatus) col("html").isNotNull && coalesce(col("fetch_status"), lit("ok")) === "ok"
          else col("html").isNotNull
        val eclassCol =
          if (hasStatus)
            when(col("html").isNull, lit("network"))
              .when(coalesce(col("fetch_status"), lit("ok")) =!= "ok", col("fetch_status"))
              .otherwise(lit(null).cast("string"))
          else when(col("html").isNull, lit("default")).otherwise(lit(null).cast("string"))
        // O8 per-class limits/ignore flags — defined up front so the wave
        // Observation can count retriable errors in the same pass (the
        // retry split below sees error_times already bumped; here the
        // pre-bump value +1 is the same predicate)
        val limitCol =
          if (hasStatus)
            when(col("__eclass") === "network", lit(settings.networkRetries))
              .otherwise(lit(settings.serverRetries))
          else lit(settings.retries)
        val ignoreCol =
          if (hasStatus)
            when(col("__eclass") === "network", lit(settings.networkIgnore))
              .otherwise(lit(settings.serverIgnore))
          else lit(false)
        val retriableCol = !col("ok") && (limitCol < 0 || (col("error_times") + 1) <= limitCol)
        val obs = new org.apache.spark.sql.Observation(s"wave_$w")
        // which parsers extract text / follow links is driver-side plan
        // specialization — constant isin sets over the dispatched column
        def pidIn(ids: Seq[String]): Column =
          if (ids.isEmpty) lit(false) else col("parser_id").isin(ids.map(x => x: Any): _*)
        // page-level REP directives (settings.honorDirectives): one struct
        // per fetched page; off → constant false flags, plan unchanged
        val mrFlags =
          if (settings.honorDirectives)
            when(okCol, graft.operators.Robots.metaRobotsFlags(col("html").cast("string")))
              .otherwise(struct(lit(false).as("noindex"), lit(false).as("nofollow")))
          else struct(lit(false).as("noindex"), lit(false).as("nofollow"))
        val processed = fetchedRaw.select(
            (frontierCols :+ col("parser_id") :+ col("lang") :+
              okCol.as("ok") :+ eclassCol.as("__eclass") :+
              mrFlags.getField("noindex").as("__noindex") :+
              (if (settings.extract && textParserIds.nonEmpty)
                 when(okCol && pidIn(textParserIds),
                   extractTextUdf(col("html"), col("url_canon")))
                   .otherwise(lit(null)).as("text")
               else lit(null).cast("string").as("text")) :+
              when(okCol && pidIn(linkParserIds) && !mrFlags.getField("nofollow"),
                outlinksUdf(col("html"), col("url_canon")))
                .otherwise(array().cast("array<string>")).as("outs") :+
              // error response body, carried only on error rows (bounded by
              // the wave's error count): the reference's error-pack content
              // (executor.py:204-227, e.read() of a ServerError); a missing
              // page (network/default class) has no response to carry
              when(!okCol, col("html")).otherwise(lit(null).cast("binary"))
                .as("__ehtml")): _*)
          .observe(obs, count(lit(1)).as("n"),
            sum(when(col("ok"), 0L).otherwise(1L)).as("errors"),
            sum(when(retriableCol, 1L).otherwise(0L)).as("retries"))
          .transform(persistWave)
        // materialize: html traversed exactly once, building the cache.
        // The fetched-rows write — the one table behind both the O9 inc
        // queue and the extraction results, which are the same row set —
        // IS the materializing action (the wave Observation sits below
        // its `ok` filter, so the write fires it over every processed
        // row): one job instead of a count + a write per table. An
        // all-error wave then writes an empty file, the same one-job cost
        // the count would have paid. The manifest records which views the
        // table serves this wave (see incTable / resultsTable).
        val success = processed.filter(col("ok"))
        val fetchedViews = Seq("inc" -> settings.inc, "results" -> settings.extract)
          .collect { case (view, true) => view }
        if (fetchedViews.nonEmpty) {
          ckpt.write(success.select(col("url"), col("url_canon"), lit(w).as("wave"),
            col("priority"), col("seq"), col("parser_id"), col("lang"), col("text"),
            size(col("outs")).as("n_outlinks"), col("__noindex").as("noindex")), w, "fetched")
          afterWrite(w, "fetched")
        } else processed.count()
        // pages-unique contract check, free via the wave Observation: the
        // left join returns exactly one row per scheduled url iff `pages`
        // is unique per url — duplicate page rows would silently multiply
        // rows here and corrupt nSuccess/frontier-size/loop accounting
        val nProcessed = obs.get("n").asInstanceOf[Long]
        require(nProcessed == nScheduled,
          s"pages table must be unique per url (CrawlJob contract): wave $w joined " +
          s"$nProcessed rows for $nScheduled scheduled urls")
        val nErrors = obs.get("errors").asInstanceOf[Long]
        val nSuccess = nScheduled - nErrors
        finished += nSuccess
        applied -= nErrors // O4 error refund (budget.py:154-158)

        // ---- retry / dead-letter (O8) ----
        // per-class policy (executor.py:335-352: error_times <= retries →
        // retry; -1 = keep trying). Exhaustion follows the reference's
        // pack/ignore matrix exactly (_handle_error, executor.py:474-506):
        //  - server/default classes are PACKED (the error record ≙ a dead
        //    row) whether ignored or not — `if pack: _pack_error` runs
        //    before the ignore branch; an ignored row is marked
        //    "<class>_error_ignored" and the crawl continues;
        //  - the network class never packs (pack=False at :382/:542); a
        //    non-ignored network exhaustion still writes a terminal
        //    "network_error" row here — the engine's record of what is,
        //    in the reference, an unbounded retry livelock (the failed
        //    url re-enters the worklist front forever);
        //  - a non-ignored exhaustion inside a BUNDLE fails the whole
        //    bundle (UnitRetryFailed → execute returns the bundle with
        //    its remaining current_urls withheld, :503-506,568): the
        //    bundle's surviving frontier rows are removed below and
        //    recorded as "bundle_blocked".
        val errors = processed.filter(!col("ok"))
        val bumped = errors.withColumn("error_times", col("error_times") + 1)
        val keepRetry = limitCol < 0 || col("error_times") <= limitCol
        // O8 span ≙ wave-delay: the retry sits out spanWaves before it is
        // schedulable again (executor.py:336-337 sleeps span between tries)
        val spanCol =
          if (hasStatus)
            when(col("__eclass") === "network", lit(settings.networkSpanWaves))
              .otherwise(lit(settings.serverSpanWaves))
          else lit(settings.retrySpanWaves)
        val retry = bumped.filter(keepRetry)
          .withColumn("eligible_wave", lit(w) + spanCol)
          .select(frontierCols: _*)
        val exhausted = bumped.filter(!keepRetry)
        val packedCol = if (hasStatus) col("__eclass") =!= "network" else lit(true)
        val reasonCol =
          if (hasStatus)
            concat(col("__eclass"), lit("_error"),
              when(ignoreCol, lit("_ignored")).otherwise(lit("")))
          else lit("fetch_miss")
        val dead = exhausted.filter(packedCol || !ignoreCol)
          .select(lit(w).as("wave"), col("url_canon"), col("host"), col("error_times"),
            reasonCol.as("reason"), col("__ehtml").as("content"))

        counters.add("budget", "applied", nScheduled)
        counters.add("budget", "finishes", nSuccess)
        counters.add("budget", "errors", nErrors)

        // ---- outlinks (F1) → new candidates: P1/P2 rule filter, P6 resolve
        //      (inside extractOutlinks), P7 self-drop, P8 canonicalize ----
        val outlinks = success.select(
          col("url_canon").as("parent_canon"), col("seq").as("parent_seq"),
          col("depth").as("parent_depth"),
          posexplode(col("outs")).as(Seq("link_idx", "out_url")))
        val acceptedLinks = outlinks
          .filter(ParserDispatch.accepts(col("out_url"), parserRules))
          .transform(trapGate("out_url"))
        // discovery decoration shared by plain outlinks and bundle members
        def decorate(df: DataFrame): DataFrame = df
          .withColumn("priority", Politeness.clampPriority(priorityExpr(col("url_canon")), settings.nPriorities))
          .withColumn("depth", col("parent_depth") + 1)
          .withColumn("force", lit(false))
          .withColumn("error_times", lit(0))
          .withColumn("discovered_wave", lit(w))
          .withColumn("eligible_wave", lit(0))

        // ---- F2/F3 bundles: links matching the bundle pattern discover
        //      LABELS (deduped by label through the same seen set, as
        //      `bundle://<label>` — the reference dedups on str(obj), a
        //      mixed url/label domain); fresh labels expand to member urls
        //      (bundle.urls()) which join the candidate stream tagged with
        //      their bundle ----
        var freshLabels: DataFrame = null
        var nLabels = 0L
        val candidates = (settings.bundles match {
          case None =>
            enrich(acceptedLinks.withColumnRenamed("out_url", "url"))
              .filter(col("url_canon") =!= col("parent_canon"))
              .transform(decorate)
              .withColumn("bundle", lit(null).cast("string"))
              .withColumn("member_idx", lit(0))
          case Some(bs) =>
            val labelCol = regexp_extract(col("out_url"), "(?i)" + bs.pattern, 1)
            val plain = enrich(acceptedLinks.filter(labelCol === "").withColumnRenamed("out_url", "url"))
              .filter(col("url_canon") =!= col("parent_canon"))
              .transform(decorate)
              .withColumn("bundle", lit(null).cast("string"))
              .withColumn("member_idx", lit(0))
            val labels = acceptedLinks
              .withColumn("label", labelCol)
              .filter(col("label") =!= "")
              .withColumn("url_canon", concat(lit("bundle://"), col("label")))
              .withColumn("url_hash", Dedup.urlHash(col("url_canon")))
              .select("url_hash", "url_canon", "label", "parent_seq", "link_idx", "parent_depth")
            freshLabels = Dedup.dedupWave(spark, labels, seen,
                Seq(col("parent_seq"), col("link_idx")),
                numBuckets = settings.numBuckets, bloomStore = bloomStore)
              .transform(persistWave)
            val memberUdf = udf((label: String) => bs.memberUrls(label))
            val members = enrich(freshLabels
                .select(col("label").as("bundle"), col("parent_seq"), col("link_idx"),
                  col("parent_depth"),
                  posexplode(memberUdf(col("label"))).as(Seq("member_idx", "url")))
                .withColumn("member_idx", col("member_idx") + 1)) // plain rows are 0
              .transform(decorate)
              .withColumn("parent_canon", lit(null).cast("string"))
            plain.unionByName(members.select(plain.columns.map(col).toSeq: _*))
        }).transform(persistWave)

        // the per-partition count (nCandidates and the candidates
        // lineage) is ALSO the cache build, deliberately serialized
        // before the dedup gate: the gate's union plan scans candidates
        // from two subtrees (in-batch window + force branch), and a
        // lazily-built cache would let their concurrent tasks race and
        // compute the enrich UDFs per partition twice
        val candidateCounts = CrawlJob.partitionCounts(
          candidates.select(lit(1)).queryExecution.toRdd)
        val nCandidates = candidateCounts.sum
        if (freshLabels != null) nLabels = freshLabels.count() // cached, cheap

        // ---- D1 dedup gate ----
        val fresh = Dedup.dedupWave(spark, candidates, seen,
            Seq(col("parent_seq"), col("link_idx"), col("member_idx")),
            numBuckets = settings.numBuckets, bloomStore = bloomStore)
        // nNew (and the admitted lineage) rides the dense-seq count pass;
        // the cache builds at the seen write (the first action over
        // newEntries)
        val (freshSeq, admittedCounts) = withDenseSeq(fresh,
          Seq(col("parent_seq").asc, col("link_idx").asc, col("member_idx").asc),
          waveBase(w), "seq")
        val nNew = admittedCounts.sum
        val newEntries = freshSeq
          .select(frontierCols: _*)
          .transform(persistWave)

        // ---- next frontier ----
        // keyed (url_hash, url_canon): the frontier side is a bucketed scan
        // on exactly those keys → no Exchange and no wide-string-only key;
        // only the wave's scheduled rows (≤ waveCap) shuffle. The hint
        // keeps it that way when they are small enough to broadcast: a
        // broadcast would cost its own job, and its relation would be
        // built inside the frontier write's plan, out of releaseWave's reach
        val leftover = frontier.join(
            scheduled.select("url_hash", "url_canon").hint("shuffle_hash"),
            Seq("url_hash", "url_canon"), "left_anti")
          .select(frontierCols: _*)
        val frontierCandidates = leftover.unionByName(retry).unionByName(newEntries)

        // ---- F2/F3 bundle failure (executor.py:503-506): a non-ignored
        //      exhaustion poisons its bundle — every surviving row of that
        //      bundle leaves the frontier and is recorded "bundle_blocked".
        //      One-wave removal is complete: the label is in the seen set,
        //      so no member of a poisoned bundle can ever be re-admitted.
        //      The poisoned set is recomputed from the persisted wave frame
        //      (a tiny filter over `processed`), never collected; the
        //      broadcast hint is bounded like the politeness hot-host set.
        var frontierNext = frontierCandidates
        var deadOut = dead
        var nBlocked = 0L
        val nRetry = obs.get("retries").asInstanceOf[Long] // rode the wave pass
        // dead letters only get a write job on waves with errors (most
        // waves have none; empty parquet writes cost a full job each on
        // the driver-latency-bound wave path). Their count rides the write.
        val deadObs = new org.apache.spark.sql.Observation(s"dead_$w")
        def writeDead(): Unit = {
          ckpt.write(deadOut.observe(deadObs, count(lit(1)).as("n"),
            coalesce(sum(when(col("reason") === "bundle_blocked", 1L).otherwise(0L)),
              lit(0L)).as("blocked")), w, "dead")
          afterWrite(w, "dead")
        }
        if (nErrors > 0 && settings.bundles.nonEmpty) {
          val poisoned = exhausted.filter(!ignoreCol && col("bundle").isNotNull)
            .select(col("bundle")).distinct()
          val nPoisoned = poisoned.count()
          if (nPoisoned > 0) {
            val pdf = if (nPoisoned < 1000000L) broadcast(poisoned) else poisoned
            val blocked = frontierCandidates.join(pdf, Seq("bundle"), "left_semi")
            deadOut = dead.unionByName(blocked.select(lit(w).as("wave"),
              col("url_canon"), col("host"), col("error_times"),
              lit("bundle_blocked").as("reason"),
              lit(null).cast("binary").as("content")))
            // re-project: a using-column join moves `bundle` first, and
            // the bucketed insert writes by position
            frontierNext = frontierCandidates.join(pdf, Seq("bundle"), "left_anti")
              .select(frontierCols: _*)
          }
          // O10 in-bundle error_urls (executor.py:500-501): ignore-class
          // exhausted BUNDLE members persist for the bundle's next pop —
          // at wave granularity, the O9 inc pass — together with
          // poisoned-label tombstones (a poisoned bundle's error members
          // never retry). One small write, error waves in inc+bundle
          // mode only; both sides ride the cached wave frame.
          if (settings.inc) {
            val errRows = exhausted.filter(ignoreCol && col("bundle").isNotNull)
              .select(col("url"), col("url_canon"), col("bundle"),
                lit(w).as("wave"), col("seq"), lit(false).as("poisoned"))
            val tombstones = poisoned.select(lit(null).cast("string").as("url"),
              lit(null).cast("string").as("url_canon"), col("bundle"),
              lit(w).as("wave"), lit(0L).as("seq"), lit(true).as("poisoned"))
            ckpt.write(errRows.unionByName(tombstones), w, "error_inc")
          }
          // bundle mode writes its dead letters here, on the wave thread:
          // the blocked count shapes the next frontier size, which the
          // inc-reseed decision below needs
          writeDead()
          nBlocked = deadObs.get("blocked").asInstanceOf[Long]
        }

        // ---- per-wave outputs + atomic commit (S6) ----
        // seen delta = new frontier urls ∪ fresh bundle labels (both gate
        // future discoveries; labels must also reach the blooms or the
        // "definitely new" shortcut would readmit a seen label)
        val seenDelta =
          if (nLabels > 0)
            newEntries.select(col("url_hash"), col("url_canon"))
              .unionByName(freshLabels.select(col("url_hash"), col("url_canon")))
          else newEntries.select(col("url_hash"), col("url_canon"))
        // the seen write runs on the wave thread FIRST: it is the action
        // that builds the newEntries cache, which every tail write below
        // reads — racing the cache build would recompute the dedup subtree
        // per consumer
        if (nNew + nLabels > 0) {
          ckpt.writeBucketed(seenDelta, w, "seen")
          afterWrite(w, "seen")
        }

        // exact arithmetic: scheduled ⊆ frontier and the frontier is unique
        // per url_canon, so the leftover anti-join removes exactly
        // nScheduled rows; retries and new entries re-enter, poisoned-
        // bundle rows leave. (nRetry — not nErrors − nDead — is the exact
        // retry count: exhausted-but-silently-dropped rows, e.g. ignored
        // network errors, are in neither set.)
        val nextSizeBase = frontierSize - nScheduled + nRetry + nNew - nBlocked

        // ---- O9 automated re-crawl: frontier drained with budget left →
        //      re-seed one pass from the inc queue (task.py:135-139: the inc
        //      slice runs when the priority slices have nothing) ----
        var frontierOut = frontierNext
        var nIncSeeded = 0L
        if (nextSizeBase == 0 && settings.inc && incPassesLeft > 0 &&
            (settings.size < 0 || settings.size - applied > 0)) {
          val (reseeded, nSeeded) = incReseed(w, seen, bloomStore)
          nIncSeeded = nSeeded
          frontierOut = frontierNext.unionByName(reseeded)
          incPassesLeft -= 1
          counters.add("inc", "reseeded", nIncSeeded)
        }

        // ---- wave-tail outputs: independent jobs over cached frames,
        // submitted concurrently (a real cluster likewise runs independent
        // output jobs from one driver at once; on the local
        // driver-latency-bound path each serialized job costs a scheduler
        // round trip). All are awaited before the manifest commits — the
        // wave-atomic commit rule is unchanged; a failed write still waits
        // for its siblings, so no write outlives the run that started it.
        // Outside bundle mode the dead letters are one of them (they read
        // only the cached wave frame). The bloom delta folds in
        // BEFORE the commit: a crash in between leaves a filter that
        // over-approximates the committed seen set (harmless false
        // "maybe"), never one missing committed urls (BloomStore rule).
        // The bloom delta runs CONCURRENTLY with the frontier write: safe
        // against the ADVICE r3 tail-write race (the frontier plan can
        // embed the inc-reseed dedup whose probeUdf captured file paths
        // via currentFiles() at wave start) because writeDelta's pruning
        // is LAZY — the version each live plan captured survives this
        // wave on disk and is pruned only by a LATER wave's delta (see
        // BloomStore.mergeAndWrite).
        val fFrontier = scala.concurrent.Future {
          ckpt.writeBucketed(frontierOut, w, "frontier")
          afterWrite(w, "frontier")
        }(CrawlJob.waveWriteEc)
        val fBloom = scala.concurrent.Future {
          if (nNew + nLabels > 0) bloomStore.foreach { st =>
            st.writeDelta(seenDelta, w)
            afterWrite(w, "bloom")
          }
        }(CrawlJob.waveWriteEc)
        val fDead =
          if (nErrors > 0 && settings.bundles.isEmpty)
            Seq(scala.concurrent.Future(writeDead())(CrawlJob.waveWriteEc))
          else Seq.empty
        // O7 evidence (opt-in): per-(wave, host) fetch outcomes — the
        // banned-window input adaptiveHostBudgets decays budgets from.
        // Reads only the cached `processed` frame; host cardinality bounds
        // the output (tiny next to the wave)
        val fHostMetrics =
          if (settings.hostMetrics) Seq(scala.concurrent.Future {
            ckpt.write(processed.groupBy(col("host")).agg(
                sum(when(col("ok"), 1L).otherwise(0L)).as("fetched"),
                sum(when(col("ok"), 0L).otherwise(1L)).as("errors"))
              .select(lit(w).as("wave"), col("host"), col("fetched"), col("errors")),
              w, "host_metrics")
          }(CrawlJob.waveWriteEc))
          else Seq.empty
        val tailWrites = fHostMetrics ++ fDead ++ Seq(fSchedule, fBloom, fFrontier)
        tailWrites
          .map(f => scala.util.Try(
            scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)))
          .foreach(_.get)
        val nDead = if (nErrors > 0) deadObs.get("n").asInstanceOf[Long] else 0L
        deadTotal += nDead

        frontier.unpersist()
        frontier = ckpt.readBucketedWave("frontier", w)
          .persist(StorageLevel.MEMORY_AND_DISK)
        frontierSize = nextSizeBase + nIncSeeded
        val secs = (System.nanoTime() - t0) / 1e9
        // A7 wave metrics and the per-partition lineage counts are
        // driver-known — they ride the manifest (no parquet job);
        // metricsTable / lineageTable reconstruct them from manifests
        val lineage = CrawlJob.LineageStages
          .zip(Seq(candidateCounts, admittedCounts, scheduledCounts))
          .map { case (stage, counts) => s"lineage.$stage" -> CrawlJob.encodeLineage(counts) }
        val views = if (fetchedViews.isEmpty) Nil else Seq("fetched" -> fetchedViews.mkString(","))
        afterWrite(w, "manifest")
        ckpt.commit(w, (lineage ++ views).toMap ++ Map(
          "applied" -> applied.toString, "finished" -> finished.toString,
          "scheduledTotal" -> scheduledTotal.toString, "deadTotal" -> deadTotal.toString,
          "incPassesUsed" -> (settings.incPasses - incPassesLeft).toString,
          "m.inc_seeded" -> nIncSeeded.toString,
          "m.scheduled" -> nScheduled.toString, "m.fetched" -> nSuccess.toString,
          "m.errors" -> nErrors.toString, "m.new_urls" -> nNew.toString,
          "m.deduped" -> (nCandidates - nNew).toString,
          "m.frontier_size" -> frontierSize.toString, "m.secs" -> secs.toString))

        releaseWave(Seq(scheduled, processed, candidates, newEntries) ++ Option(freshLabels))
      }
      wave = w
    }
    frontier.unpersist()
    summary(wave, applied, finished, scheduledTotal, deadTotal)
  }

  /** O9/D5: build one re-crawl pass from the inc queue. Every finished
   *  unit was put_inc (force=True semantics, cola/core/mq/node.py:181-184);
   *  the deterministic wave reading re-executes the UNIQUE finished set
   *  per pass, FIFO by first finish (wave, seq) — the inc store's order —
   *  at the slice after all priorities (≙ lowest priority here, since a
   *  re-seed only happens when nothing else is runnable). The rows carry
   *  force=true and go through the normal dedup gate, which they pass
   *  despite being seen (D5, store.py:252). In bundle mode the pass also
   *  carries each bundle's accumulated error_urls (O10 tail — see the
   *  ErrorIncEntry scaladoc); error_times restarts at 0, the reference's
   *  common case (any success between pops clears the bundle's
   *  consecutive-failure counter, executor.py:509-514). */
  private def incReseed(w: Int, seen: DataFrame,
      bloomStore: Option[graft.operators.BloomStore]): (DataFrame, Long) = {
    // the current wave's finished rows count too: it is not committed yet,
    // but its fetched table is written (inc is on whenever a pass runs)
    val incAll = incRows(fetchedWaves("inc") :+ w)
    val firstFin = incAll.groupBy(col("url_canon"))
      .agg(min(struct(col("wave"), col("priority"), col("seq"), col("url"))).as("f"))
      .select(col("f.url").as("url"), col("url_canon"),
        lit(null).cast("string").as("bundle"), lit(0).as("o_src"),
        col("f.wave").as("o_wave"), col("f.priority").as("o_priority"),
        col("f.seq").as("o_seq"))
    // O10: the pass ≙ re-popping every finished unit's bundle, so each
    // bundle's error_urls ride it too (execute() re-extends the worklist,
    // executor.py:559-560) — after the finished FIFO, first-exhaustion
    // order, label kept (a repeat exhaustion re-records; a later poison
    // still withholds). Members that later FINISHED ride the inc FIFO
    // instead (the bundle worklist dedups, executor.py:596); poisoned
    // labels stay withheld (the engine's terminal reading).
    val pool =
      if (settings.bundles.isEmpty) firstFin
      else {
        val errAll = ckpt.readAll(w, "error_inc", Schemas.errorInc)
        val tombstones = errAll.filter(col("poisoned")).select("bundle").distinct()
        val errFirst = errAll.filter(!col("poisoned"))
          .groupBy(col("url_canon"))
          .agg(min(struct(col("wave"), col("seq"), col("url"), col("bundle"))).as("f"))
          .select(col("f.url").as("url"), col("url_canon"),
            col("f.bundle").as("bundle"), lit(1).as("o_src"),
            col("f.wave").as("o_wave"), lit(0).as("o_priority"),
            col("f.seq").as("o_seq"))
          .join(tombstones, Seq("bundle"), "left_anti")
          .join(incAll.select("url_canon").distinct(), Seq("url_canon"), "left_anti")
        firstFin.unionByName(errFirst.select(firstFin.columns.map(col).toSeq: _*))
      }
    val entries = pool
      .withColumn("url_hash", Dedup.urlHash(col("url_canon")))
      .withColumn("host", hostCol(col("url_canon")))
      .withColumn("priority", lit(settings.nPriorities - 1))
      .withColumn("depth", lit(0))
      .withColumn("force", lit(true))
      .withColumn("error_times", lit(0))
      .withColumn("discovered_wave", lit(w))
      .withColumn("eligible_wave", lit(0))
    val passed = Dedup.dedupWave(spark, entries, seen,
      Seq(col("o_src"), col("o_wave"), col("o_priority"), col("o_seq")),
      numBuckets = settings.numBuckets, bloomStore = bloomStore)
    val (seeded, n) = withDenseSeq(passed,
      Seq(col("o_src").asc, col("o_wave").asc, col("o_priority").asc, col("o_seq").asc),
      waveBase(w), "seq")
    (seeded.select(frontierCols: _*), n.sum)
  }

  private def summary(wave: Int, applied: Long, finished: Long,
      scheduledTotal: Long, deadTotal: Long): CrawlSummary = {
    val seenTotal = ckpt.readBucketed("seen", wave).count()
    CrawlSummary(wave, applied, finished, scheduledTotal, seenTotal, deadTotal)
  }

  /** Full schedule across committed waves, ordered (wave, rank). */
  def scheduleTable: DataFrame =
    ckpt.readAll(ckpt.latestWave.getOrElse(0), "schedule", Schemas.schedule)

  def seenTable: DataFrame =
    ckpt.readBucketed("seen", bucketedReader("seen"))

  def deadTable: DataFrame =
    ckpt.readAll(ckpt.latestWave.getOrElse(0), "dead", Schemas.dead)

  /** Committed wave manifests after the seed wave, in wave order. */
  private def waveManifests: Seq[(Int, Map[String, String])] =
    ckpt.committedWaves.filter(_ > 0).sorted.map(w => w -> ckpt.manifest(w))

  /** Per-partition lineage (candidates, admitted, scheduled) of every
   *  committed wave, reconstructed from the wave manifests. */
  def lineageTable: DataFrame = {
    val rows = for {
      (w, m) <- waveManifests
      stage <- CrawlJob.LineageStages
      (p, n) <- m.get(s"lineage.$stage").toSeq.flatMap(CrawlJob.decodeLineage)
    } yield LineageRow(w, stage, p, n)
    rows.toDF()
  }

  /** A7 per-wave metrics, reconstructed from the wave manifests. */
  def metricsTable: DataFrame = {
    val rows = waveManifests.flatMap { case (w, m) =>
      if (!m.contains("m.scheduled")) None
      else Some(WaveMetrics(w, m("m.scheduled").toLong, m("m.fetched").toLong,
        m("m.errors").toLong, m("m.new_urls").toLong, m("m.deduped").toLong,
        m("m.frontier_size").toLong, m("applied").toLong, m("finished").toLong,
        m("m.secs").toDouble))
    }
    rows.toDF()
  }

  /** Committed waves whose fetched table serves `view` ("inc" and/or
   *  "results", as the wave's settings had them — manifest-recorded). */
  private def fetchedWaves(view: String): Seq[Int] =
    waveManifests.collect {
      case (w, m) if m.get("fetched").exists(_.split(',').contains(view)) => w
    }

  private def incRows(waves: Seq[Int]): DataFrame =
    ckpt.readWaves(waves, "fetched", Schemas.fetched)
      .select(col("url"), col("url_canon"), col("wave"), col("priority"), col("seq"))

  /** Extraction results (S4 result sink, [[PageResult]] rows): the
   *  fetched pages of every wave run with `extract`, minus noindex pages
   *  (settings.honorDirectives) — their outlinks were followed, but
   *  noindex excludes a page from the shipped results. */
  def resultsTable: DataFrame =
    ckpt.readWaves(fetchedWaves("results"), "fetched", Schemas.fetched)
      .filter(!col("noindex"))
      .select(col("wave"), col("url_canon"), col("parser_id"), col("lang"), col("text"),
        col("n_outlinks"))

  /** O7 per-(wave, host) fetch outcomes across committed waves (written
   *  when settings.hostMetrics): feed through
   *  [[graft.operators.Politeness.adaptiveHostBudgets]] and pass the
   *  result as `hostBudgets` to the next run. */
  def hostMetricsTable: DataFrame =
    ckpt.readAll(ckpt.latestWave.getOrElse(0), "host_metrics", Schemas.hostMetrics)

  /** O9 incremental re-crawl queue: re-enqueue as the lowest priority
   *  (task.py:135-139) — v1 ships the table; continuous re-crawl is a
   *  rerun seeded from it. */
  def incTable: DataFrame = incRows(fetchedWaves("inc"))

  /** O10 in-bundle error_urls state: ignore-exhausted bundle members +
   *  poisoned-label tombstones (see ErrorIncEntry). */
  def errorIncTable: DataFrame =
    ckpt.readAll(ckpt.latestWave.getOrElse(0), "error_inc", Schemas.errorInc)
}
