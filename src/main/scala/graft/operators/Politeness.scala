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
 *     ascending; keep rank <= the host's budget — the per-host politeness
 *     quota replacing the reference's wall-clock speed control
 *     (cola/functions/speed.py:232-248 → offline reading per SURVEY O6).
 *     One gate, [[hostEligible]], serves every budget source: the fixed
 *     hostBudget is a literal, and a per-host table (O7 decay, robots
 *     crawl-delay caps) is a column that can only lower it. The gate
 *     picks its plan from driver-known facts only: no table → the
 *     literal window; a table → one bounded pass decides the broadcast
 *     hint (`maxBroadcastHosts`) and the literal rank ceiling; salts > 1
 *     → the hot/cold skew split, chosen from measured per-host counts.
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

  /**
   * Step 1, the one per-host politeness gate: within each host, rank
   * candidates by (priority, seq) and keep rank <= the host's budget.
   *
   * The budget is `defaultBudget` unless `perHost` (host, host_budget)
   * names the host — the O7 decayed budgets of [[adaptiveHostBudgets]]
   * and the robots crawl-delay caps of [[Robots.capsFromDelays]] are both
   * such tables. A host listed twice keeps its lowest budget (the
   * reference only ever lowers a rate, speed.py:226-227). Output keeps
   * the caller's column order (bucketed writes are positional).
   *
   * Plan selection:
   *  - No table: the bound is the literal, so Spark's InferWindowGroupLimit
   *    puts a partial top-k below the window sort (each mapper pre-prunes
   *    to the budget). No join, no extra column.
   *  - A table: one bounded pass (stops after `maxBroadcastHosts` + 1
   *    rows) counts it and takes its largest budget. Under the bound the
   *    table joins with a broadcast hint and the rank keeps the literal
   *    ceiling max(defaultBudget, largest budget) beside the per-host
   *    column, which keeps WindowGroupLimit. Over it — at a 10^7-host
   *    crawl a hint Spark obeys even at OOM size (VERDICT r3 #2) — the
   *    join is left to the planner and the bound is the column alone.
   *  - `salts > 1` (J5 skew): one decision pass reduces the per-host
   *    counts, each against its host's own bound, to three driver scalars
   *    (hot hosts, hot rows, total rows). No hot host: the input passes
   *    through unchanged (rank <= count <= bound). A bounded hot set: the
   *    hot-host list is collected and broadcast; cold rows pass a narrow
   *    anti-join and only hot rows go through the salted two-phase rank.
   *    More than `maxHotHosts` hot hosts, or hot rows above
   *    `hotRowFraction` of the wave (where the split does more work than
   *    ranking everything): the salted rank over every row, with no
   *    broadcast of the hot set.
   *
   * Every branch returns the same rows as the plain window.
   */
  def hostEligible(
      candidates: DataFrame,
      defaultBudget: Int,
      perHost: Option[DataFrame] = None,
      salts: Int = 1,
      maxHotHosts: Int = 1000000,
      hotRowFraction: Double = 0.5,
      maxBroadcastHosts: Long = 1000000L): DataFrame = {
    val outCols = candidates.columns.map(col).toSeq
    val table = perHost.map(budgetTable(_, defaultBudget, maxBroadcastHosts))
    // the per-host bound: the literal, or the table's budget as `__hb`
    val bound = if (table.isEmpty) lit(defaultBudget) else col("__hb")
    val ceiling = table.flatMap(_._2)
    def withBound(df: DataFrame): DataFrame = table.fold(df) { case (t, _) =>
      df.join(t, Seq("host"), "left")
        .withColumn("__hb", coalesce(col("__hb"), lit(defaultBudget)))
    }
    if (salts <= 1)
      return rankWithin(withBound(candidates), Seq(col("host")), "__hr", bound, ceiling)
        .select(outCols: _*)
    // the per-host counts are tiny (|hosts| rows) but cost a full input
    // pass to build — persist them so the decision scalars and the
    // hot-host list share ONE input aggregation instead of two
    val counts = withBound(candidates.groupBy(col("host")).agg(count(lit(1)).as("__hn")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val isHot = col("__hn") > bound
      val stats = counts.agg(
          sum(when(isHot, 1L).otherwise(0L)),
          sum(when(isHot, col("__hn")).otherwise(0L)),
          sum(col("__hn")))
        .collect()(0)
      def scalar(i: Int): Long = if (stats.isNullAt(i)) 0L else stats.getLong(i)
      val (nHot, hotRows, total) = (scalar(0), scalar(1), scalar(2))
      if (nHot == 0) return candidates
      if (nHot > maxHotHosts || hotRows > total * hotRowFraction)
        return saltedRank(withBound(candidates), salts, bound, ceiling).select(outCols: _*)
      // the hot list is bounded now: collect it once, so the split plan
      // never re-evaluates the per-host aggregate (the r2 regression)
      val hotList = counts.filter(isHot)
        .select((if (table.isEmpty) Seq("host") else Seq("host", "__hb")).map(col): _*)
      val hotDf = broadcast(candidates.sparkSession.createDataFrame(
        java.util.Arrays.asList(hotList.collect(): _*), hotList.schema))
      // Cached input → both branches re-read the cache. Uncached input →
      // repartition ONCE so the branches share a single exchange via
      // ReuseExchange instead of recomputing the input subtree per
      // branch. The boundary key must be skew-free: seq is unique by
      // contract (repartitioning by host would funnel a mega-host — the
      // exact J5 skew this path exists to absorb — into one task).
      val boundary = if (isInputCached(candidates)) candidates else candidates.repartition(col("seq"))
      val cold = boundary.join(hotDf.select(col("host")), Seq("host"), "left_anti")
      val hot = boundary.join(hotDf, Seq("host"), if (table.isEmpty) "left_semi" else "inner")
      cold.unionByName(saltedRank(hot, salts, bound, ceiling).select(outCols: _*))
    } finally counts.unpersist()
  }

  /** The (host, `__hb`) side of a per-host budget table, broadcast-hinted
   *  when a bounded pass finds at most `maxBroadcastHosts` rows; with it,
   *  the literal rank ceiling max(defaultBudget, largest budget). */
  private def budgetTable(perHost: DataFrame, defaultBudget: Int,
      maxBroadcastHosts: Long): (DataFrame, Option[Int]) = {
    // the +1 is computed in the CAPPED domain (a caller passing a bound
    // near Long.MaxValue to "disable the guard" must not overflow to
    // limit(0), which would mislabel EVERY table as small)
    val lim = (maxBroadcastHosts.min(Int.MaxValue.toLong - 1) + 1).toInt
    val r = perHost.select(col("host_budget")).limit(lim)
      .agg(count(lit(1)), max(col("host_budget"))).collect()(0)
    // a host listed twice would otherwise duplicate its candidates
    val t = perHost.groupBy(col("host")).agg(min(col("host_budget")).as("__hb"))
    if (r.getLong(0) > maxBroadcastHosts) (t, None)
    else {
      val top = if (r.isNullAt(1)) 0L else r.getAs[Number](1).longValue
      (broadcast(t), Some(math.min(math.max(top, defaultBudget.toLong), Int.MaxValue).toInt))
    }
  }

  /** Keep the first rows of each `keys` partition by (priority, seq) while
   *  their rank is within `bound` (and the literal `ceiling`, which lets
   *  the rank filter compile to WindowGroupLimit). */
  private def rankWithin(in: DataFrame, keys: Seq[Column], rank: String,
      bound: Column, ceiling: Option[Int]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("priority").asc, col("seq").asc)
    val r = col(rank)
    in.withColumn(rank, row_number().over(w))
      .filter(ceiling.fold(r <= bound)(c => r <= lit(c) && r <= bound))
      .drop(rank)
  }

  /** Two-phase salted top-k: rank within (host, salt) shards first — each
   *  keeps at most its bound — so the per-host rank reads at most
   *  salts × bound rows per host, however skewed the host. */
  private def saltedRank(in: DataFrame, salts: Int, bound: Column,
      ceiling: Option[Int]): DataFrame = {
    val salted = in.withColumn("__salt",
      pmod(xxhash64(col("url_canon")), lit(salts.toLong)).cast("int"))
    val partial = rankWithin(salted, Seq(col("host"), col("__salt")), "__pr", bound, ceiling)
      .drop("__salt")
    rankWithin(partial, Seq(col("host")), "__hr", bound, ceiling)
  }

  /** Caching detection through DERIVED frames (df.storageLevel only sees
   *  the exact frame): a cached ancestor shows up as an InMemoryRelation
   *  in the optimized plan. */
  private def isInputCached(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.isDefined

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
    // the uniform quota for the hosts it names
    val eligible = hostEligible(clamped, hostBudget, hostBudgets, salts)
    if (priorityQuotas(grant, nPriorities).min >= inputUpperBound) eligible
    else applyQuotas(eligible, grant, nPriorities)
  }
}
