package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Wave scheduling: per-host politeness quota + priority quotas + global
 * budget (SURVEY §2.7 O1–O6).
 *
 * Deterministic contract (mirrored exactly by the in-repo reference
 * simulator, ColaSimulator):
 *  1. host-eligible: rank candidates within each host by (priority, seq)
 *     ascending; keep rank <= hostBudget — the per-host politeness quota
 *     replacing the reference's wall-clock speed control
 *     (cola/functions/speed.py:232-248 → offline reading per SURVEY O6).
 *  2. per-priority quota ∝ 2^-i of the wave grant (the deterministic
 *     equivalent of the reference's exponential time slices,
 *     cola/job/task.py:33,66-69): quota_i = floor(grant·2^(P-1-i)/(2^P-1)),
 *     remainder distributed to priorities 0,1,… one each. FIFO by seq
 *     within priority (O3). Unused quota is NOT redistributed (the next
 *     wave catches up), keeping the rule one-pass and deterministic.
 *  3. the wave grant itself = min(waveCap, budgets − applied)
 *     (BudgetApplyServer.apply semantics, cola/functions/budget.py:137-146).
 *
 * With nPriorities=1 this reduces to: first `grant` candidates in seq
 * order subject to per-host quota — exactly the reference's own
 * deterministic e2e configuration (tests/test_master_worker.py:72-74).
 */
object Politeness {

  /** Priority clamp (P3, cola/core/mq/node.py:120-125). */
  def clampPriority(c: Column, nPriorities: Int): Column =
    least(greatest(c, lit(0)), lit(nPriorities - 1))

  /** Per-priority quotas ∝ 2^-i summing exactly to `grant`. */
  def priorityQuotas(grant: Long, nPriorities: Int): Seq[Long] = {
    require(nPriorities >= 1 && nPriorities < 62)
    val denom = (1L << nPriorities) - 1
    val base = (0 until nPriorities).map(i => grant * (1L << (nPriorities - 1 - i)) / denom)
    var rem = grant - base.sum
    base.zipWithIndex.map { case (q, i) => if (i < rem) q + 1 else q }
  }

  /** Step 1 via window — canonical small/medium path. */
  def hostEligible(candidates: DataFrame, hostBudget: Int): DataFrame = {
    val w = Window.partitionBy(col("host")).orderBy(col("priority").asc, col("seq").asc)
    candidates.withColumn("__hr", row_number().over(w))
      .filter(col("__hr") <= hostBudget)
      .drop("__hr")
  }

  /**
   * Step 1 with PER-HOST caps (robots.txt crawl-delay, O6 variable form):
   * hosts in `caps` (host, cap — already clamped ≤ maxK, see
   * [[Robots.capsFromDelays]]) keep their top `cap` rows; absent hosts
   * keep `defaultK`. Output ordering rule identical to [[hostEligible]].
   *
   * Plan shape: the rank predicate keeps the LITERAL bound
   * `__hr <= max(maxK, defaultK)` alongside the per-row cap so Spark's
   * InferWindowGroupLimit still inserts a partial top-k below the
   * window sort — each mapper pre-prunes to the literal ceiling and the
   * per-host cap filters after; a cap-only (per-row) predicate would
   * disable the pushdown and sort every candidate of every host. The
   * caps side carries no broadcast hint for the same reason as
   * [[Robots.filterAllowed]]: AQE broadcasts a measured-small table and
   * falls back to the host-keyed exchange the window pays anyway.
   */
  def hostEligibleCapped(
      candidates: DataFrame,
      caps: DataFrame,
      defaultK: Int,
      maxK: Int): DataFrame = {
    require(defaultK >= 1 && maxK >= 1)
    val ceiling = math.max(maxK, defaultK)
    val w = Window.partitionBy(col("host")).orderBy(col("priority").asc, col("seq").asc)
    candidates
      .join(caps.select(col("host"), col("cap").as("__cap")), Seq("host"), "left")
      .withColumn("__hr", row_number().over(w))
      .filter(col("__hr") <= lit(ceiling) &&
        col("__hr") <= coalesce(col("__cap"), lit(defaultK)))
      .drop("__hr", "__cap")
  }

  /**
   * Step 1 at scale: two-phase salted top-k. A mega-host (J5 skew) would
   * serialize the window's single per-host partition; instead rank within
   * (host, salt) shards first — each shard keeps at most hostBudget rows,
   * shrinking the final per-host rank input to ≤ salts·hostBudget rows per
   * host regardless of skew. Identical output to [[hostEligible]].
   */
  def hostEligibleSalted(candidates: DataFrame, hostBudget: Int, salts: Int): DataFrame = {
    require(salts >= 1)
    val salted = candidates.withColumn("__salt",
      pmod(xxhash64(col("url_canon")), lit(salts.toLong)).cast("int"))
    val w1 = Window.partitionBy(col("host"), col("__salt"))
      .orderBy(col("priority").asc, col("seq").asc)
    val partial = salted.withColumn("__pr", row_number().over(w1))
      .filter(col("__pr") <= hostBudget)
      .drop("__pr", "__salt")
    val w2 = Window.partitionBy(col("host")).orderBy(col("priority").asc, col("seq").asc)
    partial.withColumn("__hr", row_number().over(w2))
      .filter(col("__hr") <= hostBudget)
      .drop("__hr")
  }

  /**
   * Step 1 at frontier scale: adaptive skew split (the J5 "saltsPerHost
   * adapts" rule). A real frontier has ~10^7 hosts of which only
   * mega-hosts exceed the politeness budget; ranking EVERY host through
   * a window means two full shuffle+sorts of the wave for a constraint
   * that binds almost nowhere. Instead: one cheap per-host count
   * aggregate (map-side partial → tiny shuffle) finds the hosts with
   * count > hostBudget; rows of cold hosts are all eligible by
   * definition (rank ≤ count ≤ budget) and pass through a broadcast
   * anti-join (narrow, no shuffle); only hot-host rows — the mega-host
   * skew — go through the salted two-phase top-k. Output is provably
   * identical to [[hostEligible]].
   *
   * Two scale guards (both measured failure modes, VERDICT r2 #1/#4):
   *
   *  - **Bounded decision pass.** The same per-host count aggregate that
   *    finds the hot hosts is first reduced to THREE driver scalars
   *    (hot-host count, hot-row count, total rows) — one tiny job whose
   *    shuffle is |hosts| rows, never the wave. If the hot set is large
   *    (`> maxHotHosts`, a broadcast that could OOM as a *hint* Spark
   *    obeys) or hot rows dominate (`> hotRowFraction` of the wave, where
   *    the split does strictly more work than ranking everything), fall
   *    back to [[hostEligibleSalted]] — identical output, no broadcast.
   *
   *  - **No recompute fan-out.** The decision pass also COLLECTS the
   *    (now provably bounded) hot-host list, which enters the main plan
   *    as a broadcast local relation — the per-host aggregate is never
   *    re-evaluated inside the split plan (the r2 regression: the
   *    aggregate plus both join consumers each recomputed an input that
   *    ended at a UDF projection, not a shuffle). When the input is not
   *    already cached, it is additionally repartitioned by host once so
   *    the cold/hot branches share a single exchange via ReuseExchange;
   *    a cached input (the engine's persisted frontier) skips the extra
   *    shuffle and pays two cache reads instead.
   */
  def hostEligibleAdaptive(candidates: DataFrame, hostBudget: Int, salts: Int,
      maxHotHosts: Int = 1000000, hotRowFraction: Double = 0.5): DataFrame = {
    // the per-host counts are tiny (|hosts| rows) but cost a full input
    // pass to build — persist them so the decision scalars and the
    // hot-host list share ONE input aggregation instead of two
    val hostCounts = candidates.groupBy(col("host")).agg(count(lit(1)).as("__hn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = hostCounts.agg(
          sum(when(col("__hn") > hostBudget, 1L).otherwise(0L)).as("nHot"),
          sum(when(col("__hn") > hostBudget, col("__hn")).otherwise(0L)).as("hotRows"),
          sum(col("__hn")).as("total"))
        .collect()(0)
      val nHot = Option(stats.get(0)).fold(0L)(_.asInstanceOf[Long])
      val hotRows = Option(stats.get(1)).fold(0L)(_.asInstanceOf[Long])
      val total = Option(stats.get(2)).fold(0L)(_.asInstanceOf[Long])
      if (nHot == 0) return candidates // every host fits its budget
      if (nHot > maxHotHosts || hotRows > total * hotRowFraction)
        return hostEligibleSalted(candidates, hostBudget, salts)
      val spark = candidates.sparkSession
      import spark.implicits._
      val hotSeq = hostCounts.filter(col("__hn") > hostBudget)
        .select(col("host")).as[String].collect().toSeq
      hotEligiblePlan(candidates, hostBudget, salts, broadcast(hotSeq.toDF("host")))
    } finally hostCounts.unpersist()
  }

  /** The split plan of [[hostEligibleAdaptive]] once the hot-host list is
   *  a collected local relation. */
  /** Caching detection through DERIVED frames (df.storageLevel only sees
   *  the exact frame): a cached ancestor shows up as an InMemoryRelation
   *  in the optimized plan. */
  private def isInputCached(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.isDefined

  private def hotEligiblePlan(candidates: DataFrame, hostBudget: Int,
      salts: Int, hotDf: DataFrame): DataFrame = {
    // Cached input → both join branches re-read the cache, no boundary
    // needed. Uncached input → repartition ONCE so the branches share a
    // single exchange via ReuseExchange instead of recomputing the input
    // subtree per branch. The boundary key must be skew-free: seq is
    // unique by contract (repartitioning by host would funnel a mega-host
    // — the exact J5 skew this operator exists to absorb — into one
    // straggler task).
    val boundary = if (isInputCached(candidates)) candidates else candidates.repartition(col("seq"))
    val cold = boundary.join(hotDf, Seq("host"), "left_anti")
    val hot = boundary.join(hotDf, Seq("host"), "left_semi")
    cold.unionByName(hostEligibleSalted(hot, hostBudget, salts))
  }

  /**
   * Per-host-budget politeness gate: like [[hostEligible]] but each host's
   * quota comes from a `budgets` table (host STRING, host_budget INT) —
   * the output of [[adaptiveHostBudgets]] — with `defaultBudget` for
   * hosts not in the table. The rank bound is a column, so the
   * WindowGroupLimit partial pushdown does not apply; use after the
   * adaptive hot/cold split (or on the hot subset) at scale.
   *
   * The broadcast hint is COUNT-GUARDED (the poisoned-bundle pattern,
   * CrawlJob's bundle gate): `budgets` is one row per host — at a
   * 10^7-host crawl a bare hint would be a multi-hundred-MB broadcast
   * Spark obeys even at OOM size (VERDICT r3 Wrong #2). Under
   * `maxBroadcastHosts` the hint is safe by measurement; above it the
   * join plans as a regular shuffle join (AQE may still choose broadcast
   * at runtime if the actual bytes are small — its own size check, not a
   * hint).
   */
  def hostEligibleBudgets(candidates: DataFrame, budgets: DataFrame,
      defaultBudget: Int, maxBroadcastHosts: Long = 1000000L): DataFrame = {
    val outCols = candidates.columns.map(col).toSeq
    val b = budgets.select(col("host"), col("host_budget"))
    // bounded count: stop scanning once the guard is decided. The +1 is
    // computed in the CAPPED domain (a caller passing a bound near
    // Long.MaxValue to "disable the guard" must not overflow to limit(0),
    // which would mislabel EVERY table as small and hint the broadcast)
    val lim = (maxBroadcastHosts.min(Int.MaxValue.toLong - 1) + 1).toInt
    val small = b.limit(lim).count() <= maxBroadcastHosts
    val joined = candidates.join(
      if (small) broadcast(b) else b, Seq("host"), "left")
    val w = Window.partitionBy(col("host")).orderBy(col("priority").asc, col("seq").asc)
    joined.withColumn("__hr", row_number().over(w))
      .filter(col("__hr") <= coalesce(col("host_budget"), lit(defaultBudget)))
      .select(outCols: _*) // original column order (bucketed writes are positional)
  }

  /** Salted two-phase top-k where the per-host bound is the already
   *  attached `__hb` column; restores the caller's column set/order. */
  private def saltedRankByBudgetCol(in: DataFrame, salts: Int,
      outCols: Seq[Column]): DataFrame = {
    val salted = in.withColumn("__salt",
      pmod(xxhash64(col("url_canon")), lit(salts.toLong)).cast("int"))
    val w1 = Window.partitionBy(col("host"), col("__salt"))
      .orderBy(col("priority").asc, col("seq").asc)
    val partial = salted.withColumn("__pr", row_number().over(w1))
      .filter(col("__pr") <= col("__hb"))
      .drop("__pr", "__salt")
    val w2 = Window.partitionBy(col("host")).orderBy(col("priority").asc, col("seq").asc)
    partial.withColumn("__hr", row_number().over(w2))
      .filter(col("__hr") <= col("__hb"))
      .select(outCols: _*)
  }

  /** [[hostEligibleBudgets]] at scale when the budgets table itself is
   *  unbounded: salted two-phase ranking with the per-host bound as a
   *  column. No broadcast hint anywhere (AQE sizes the budgets join at
   *  runtime); each (host, salt) shard keeps at most its own budget, so a
   *  mega-host never funnels into one window task. Output ≡
   *  [[hostEligibleBudgets]]. */
  def hostEligibleBudgetsSalted(candidates: DataFrame, budgets: DataFrame,
      defaultBudget: Int, salts: Int): DataFrame = {
    require(salts >= 1)
    val outCols = candidates.columns.map(col).toSeq
    val withB = candidates
      .join(budgets.select(col("host"), col("host_budget")), Seq("host"), "left")
      .withColumn("__hb", coalesce(col("host_budget"), lit(defaultBudget)))
      .drop("host_budget")
    saltedRankByBudgetCol(withB, salts, outCols)
  }

  /** [[hostEligibleBudgets]] with the adaptive hot/cold skew split (the
   *  J5 treatment [[hostEligibleAdaptive]] gives the fixed-budget gate —
   *  without it, a decayed-budgets run would rank every host through one
   *  plain window and a mega-host funnels into a single task):
   *
   *   - per-host counts join the budgets table (tiny ⋈ tiny) so "hot"
   *     means count > the host's OWN budget;
   *   - same bounded decision pass and guards as hostEligibleAdaptive
   *     (three driver scalars; above `maxHotHosts`/`hotRowFraction` fall
   *     back to [[hostEligibleBudgetsSalted]] — identical output, no
   *     driver collect);
   *   - cold rows pass through a broadcast anti-join; hot rows carry
   *     their budget from the collected (bounded) hot list and go through
   *     the salted two-phase rank.
   *
   *  Output provably ≡ [[hostEligibleBudgets]]. */
  def hostEligibleBudgetsAdaptive(candidates: DataFrame, budgets: DataFrame,
      defaultBudget: Int, salts: Int,
      maxHotHosts: Int = 1000000, hotRowFraction: Double = 0.5): DataFrame = {
    if (salts <= 1) return hostEligibleBudgets(candidates, budgets, defaultBudget)
    val outCols = candidates.columns.map(col).toSeq
    val hostCounts = candidates.groupBy(col("host")).agg(count(lit(1)).as("__hn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val withB = hostCounts
        .join(budgets.select(col("host"), col("host_budget")), Seq("host"), "left")
        .withColumn("__hb", coalesce(col("host_budget"), lit(defaultBudget)))
      val stats = withB.agg(
          sum(when(col("__hn") > col("__hb"), 1L).otherwise(0L)).as("nHot"),
          sum(when(col("__hn") > col("__hb"), col("__hn")).otherwise(0L)).as("hotRows"),
          sum(col("__hn")).as("total"))
        .collect()(0)
      val nHot = Option(stats.get(0)).fold(0L)(_.asInstanceOf[Long])
      val hotRows = Option(stats.get(1)).fold(0L)(_.asInstanceOf[Long])
      val total = Option(stats.get(2)).fold(0L)(_.asInstanceOf[Long])
      if (nHot == 0) return candidates // every host fits its budget
      if (nHot > maxHotHosts || hotRows > total * hotRowFraction)
        return hostEligibleBudgetsSalted(candidates, budgets, defaultBudget, salts)
      val spark = candidates.sparkSession
      import spark.implicits._
      val hotSeq = withB.filter(col("__hn") > col("__hb"))
        .select(col("host"), col("__hb").cast("int"))
        .as[(String, Int)].collect().toSeq
      val hotDf = broadcast(hotSeq.toDF("host", "__hb"))
      val boundary =
        if (isInputCached(candidates)) candidates
        else candidates.repartition(col("seq")) // see hotEligiblePlan
      val cold = boundary.join(hotDf.select("host"), Seq("host"), "left_anti")
        .select(outCols: _*)
      val hot = boundary.join(hotDf, Seq("host"))
      cold.unionByName(saltedRankByBudgetCol(hot, salts, outCols))
    } finally hostCounts.unpersist()
  }

  /**
   * O7 adaptive throttling, offline reading (cola/functions/speed.py:
   * 203-230): when a host bans an instance, the reference lowers that
   * instance's rate to the minimum pages/min it observed in the windows
   * *preceding* past bans. Deterministic wave equivalent: a wave with
   * fetch errors on a host ≙ a banned window; the host's decayed budget
   * is the minimum `fetched` of the waves immediately before its banned
   * waves (floor 1; first-wave bans decay to 1), capped at `defaultBudget`
   * — the reference only ever LOWERS a rate (speed.py:226-227 assigns only
   * when `adaptive_pages < self.instance_calc_rates[instance]`), so a
   * banned host must never end up above an unbanned one; hosts never
   * banned keep `defaultBudget`. Input: per-(wave, host) metrics
   * (wave INT, host STRING, fetched LONG, errors LONG); output:
   * (host, host_budget INT) — feed the budgets into a per-host politeness
   * gate for the next run.
   */
  def adaptiveHostBudgets(metrics: DataFrame, defaultBudget: Int): DataFrame = {
    val w = Window.partitionBy(col("host")).orderBy(col("wave").asc)
    metrics
      .withColumn("__prev", lag(col("fetched"), 1).over(w))
      .groupBy(col("host"))
      .agg(min(when(col("errors") > 0, coalesce(col("__prev"), lit(1L)))).as("__minBefore"))
      .select(col("host"),
        greatest(lit(1L),
          least(lit(defaultBudget.toLong),
            coalesce(col("__minBefore"), lit(defaultBudget.toLong))))
          .cast("int").as("host_budget"))
  }

  /**
   * Steps 2–3: apply per-priority quotas over host-eligible rows.
   *
   * Scale note: "first quota_i rows by seq within priority i" is a
   * selection problem, NOT a sort problem — a per-priority row_number
   * window would funnel each priority into a single task. Because seq is
   * unique, the quota is equivalent to a THRESHOLD: seq ≤ (the quota_i-th
   * smallest seq). One aggregate over (priority, seq >> 16) yields the
   * per-priority totals (does the quota bind?) plus an exact
   * order-preserving histogram (buckets are contiguous seq ranges holding
   * ≤ 2^16 rows each — driver-side size is ≤ n/2^16 rows ≈ 2.4 MB at a
   * 10^10-row wave, and waves are bounded by waveCap anyway); the driver
   * prefix-sums a binding priority's
   * buckets to the bucket containing the threshold. A cut landing on a
   * bucket boundary (remainder 0) is known from the histogram alone; the
   * others are resolved together by ONE job: the rows of every such
   * priority's cut bucket (≤ 2^16 each) are ranked by seq within their
   * priority, and the row whose rank equals that priority's remainder is
   * its threshold. The final result is ONE narrow filter over the input:
   * no unions, no window over the wave, no single-task sort. Output
   * identical to the window formulation.
   */
  def applyQuotas(eligible: DataFrame, grant: Long, nPriorities: Int): DataFrame = {
    val quotas = priorityQuotas(grant, nPriorities)
    val Shift = 16
    val hist = eligible
      .groupBy(col("priority"), shiftright(col("seq"), Shift).as("__b"))
      .count().collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val counts = hist.groupBy(_._1).map { case (p, rows) => p -> rows.map(_._3).sum }
    val binding = (0 until nPriorities)
      .filter(i => counts.getOrElse(i, 0L) > quotas(i))
    if (binding.isEmpty) return eligible
    // per binding priority: (cut bucket, rows of the quota inside it);
    // a binding priority always has a bucket where the prefix sum passes q
    val cutBuckets: Map[Int, (Long, Long)] = binding.map { i =>
      val q = quotas(i)
      val bs = hist.filter(_._1 == i).map(t => (t._2, t._3)).sortBy(_._1)
      val prefix = bs.map(_._2).scanLeft(0L)(_ + _)
      val k = prefix.indexWhere(_ > q) - 1
      i -> (bs(k)._1, q - prefix(k)) // remainder ≤ one bucket = ≤ 2^16 rows (seq unique)
    }.toMap
    val inBucket = cutBuckets.filter(_._2._2 > 0)
    val resolved: Map[Int, Long] =
      if (inBucket.isEmpty) Map.empty
      else {
        def byPriority(v: ((Long, Long)) => Long): Column =
          inBucket.foldLeft(lit(null).cast("long")) { case (acc, (i, bq)) =>
            when(col("priority") === i, lit(v(bq))).otherwise(acc)
          }
        val w = Window.partitionBy(col("priority")).orderBy(col("seq").asc)
        eligible.filter(shiftright(col("seq"), Shift) === byPriority(_._1))
          .withColumn("__r", row_number().over(w))
          .filter(col("__r") === byPriority(_._2))
          .select(col("priority"), col("seq")).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
      }
    val cutSeq: Map[Int, Long] = cutBuckets.map { case (i, (b, rem)) =>
      i -> (if (rem == 0) (b << Shift) - 1 else resolved(i))
    }
    val keep = binding.foldLeft(lit(true)) { (acc, i) =>
      when(col("priority") === i, col("seq") <= cutSeq(i)).otherwise(acc)
    }
    eligible.filter(keep)
  }

  /** One wave's schedule: the full O1/O3/O4/O6 pipeline.
   *
   *  `inputUpperBound`: any driver-known bound on `candidates`' row count
   *  (e.g. the frontier size the wave loop already tracks). When even the
   *  SMALLEST per-priority quota covers that many rows, no quota can bind
   *  — the histogram pass of [[applyQuotas]] (one aggregate + driver
   *  collect per wave) is skipped with provably identical output. The
   *  common regime at scale: an effectively unbudgeted crawl where the
   *  wave cap exceeds the frontier. */
  def schedule(
      candidates: DataFrame,
      hostBudget: Int,
      grant: Long,
      nPriorities: Int,
      salts: Int = 1,
      inputUpperBound: Long = Long.MaxValue,
      hostBudgets: Option[DataFrame] = None): DataFrame = {
    if (grant <= 0) return candidates.limit(0)
    val clamped = candidates.withColumn("priority", clampPriority(col("priority"), nPriorities))
    // O7 wired end-to-end: a decayed per-host budgets table (the output of
    // [[adaptiveHostBudgets]] over a previous run's host metrics) replaces
    // the uniform quota — hosts absent from the table keep `hostBudget`
    // (the reference only ever LOWERS a banned host's rate). The salted
    // configuration keeps its adaptive skew split (a mega-host must not
    // funnel into one plain-window task just because budgets are on).
    val eligible = hostBudgets match {
      case Some(b) =>
        if (salts <= 1) hostEligibleBudgets(clamped, b, hostBudget)
        else hostEligibleBudgetsAdaptive(clamped, b, hostBudget, salts)
      case None =>
        if (salts <= 1) hostEligible(clamped, hostBudget)
        else hostEligibleAdaptive(clamped, hostBudget, salts)
    }
    if (priorityQuotas(grant, nPriorities).min >= inputUpperBound) eligible
    else applyQuotas(eligible, grant, nPriorities)
  }
}
